"""Alpha101 subset query (SURVEY.md §2.9, `alpha101_function.md:5-105`):
the staged P1–P5 pipeline from `factors/alpha101.py`, oracle-checked
against a DuckDB CTE chain that mirrors each stage (window SQL for the TS
stages, average-tie NULLS-LAST ranks for the CS stages, list math for
ts_argmax).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..factors.alpha101 import ALPHA_COLS, with_alphas
from ..factors.panel import _BAR_ROW_BYTES, O_BARS, bars_table, daily_bars
from ..session import checkpoint_sized, local_leaf
from ..sources.catalog import shared, table_path
from .oracle_prune import prune_alpha_oracle
from .registry import query

# Driver-gate split of the 101-alpha surface: four strided parts, each
# oracle-checked with a dependency-pruned CTE chain (oracle_prune.py).
# Rationale: the FULL chain crosses the kernel's vm.max_map_count at
# DuckDB's default thread count (mmap fails → spurious OutOfMemory) — the
# exact failure that produced an empty driver CORRECTNESS file in round 3.
# Each pruned part peaks at ~35k mappings vs the 65530 limit at defaults.
ALPHA_GATE_PARTS: list[list[str]] = [ALPHA_COLS[i::4] for i in range(4)]

_W = "PARTITION BY code ORDER BY d"


def _f(d: int) -> str:
    return f"{_W} ROWS BETWEEN {d - 1} PRECEDING AND CURRENT ROW"


def _o_tsr(lst: str, v: str) -> str:
    """ts_rank over a windowed list (average-tie, matches ts.ts_rank)."""
    return (
        f"(len(list_filter({lst}, y -> y < {v}))"
        f" + len(list_filter({lst}, y -> y <= {v})) + 1) / 2.0 / len({lst})"
    )


def _o_gcorr(x: str, y: str, n: int) -> str:
    """Variance-gated windowed corr — the DuckDB twin of ts.ts_corr."""
    return (
        f"CASE WHEN STDDEV_SAMP({x}) OVER ({_f(n)}) > 0"
        f" AND STDDEV_SAMP({y}) OVER ({_f(n)}) > 0"
        f" THEN CORR({x}, {y}) OVER ({_f(n)}) END"
    )


_CUM = f"{_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _o_q(x: str, scale: int) -> str:
    """Fixed-point quantization: FLOOR(x*scale+0.5) — identical IEEE ops
    on both engines (see operators.timeseries._quantize)."""
    return f"CAST(FLOOR(({x})*{scale} + 0.5) AS HUGEINT)"


def _o_cums_corr(tag: str, x: str, y: str, scale: int = 1_000_000) -> dict[str, str]:
    """Cumulative exact-integer sums for the O(rows) long-window corr —
    the oracle twin of ts_corr_fixed's running sums. Emit these columns in
    one CTE; difference them with _o_corr_fixed_expr in the next."""
    both = f"(({x}) IS NOT NULL AND ({y}) IS NOT NULL)"
    qx, qy = _o_q(x, scale), _o_q(y, scale)

    def cum(e: str) -> str:
        return f"SUM(CASE WHEN {both} THEN {e} ELSE CAST(0 AS HUGEINT) END) OVER ({_CUM})"

    return {
        f"{tag}_n": cum("CAST(1 AS HUGEINT)"),
        f"{tag}_sx": cum(qx),
        f"{tag}_sy": cum(qy),
        f"{tag}_sxx": cum(f"{qx}*{qx}"),
        f"{tag}_syy": cum(f"{qy}*{qy}"),
        f"{tag}_sxy": cum(f"{qx}*{qy}"),
    }


def _o_cums_sum(tag: str, x: str, scale: int = 100_000_000) -> dict[str, str]:
    """Cumulative exact-integer sum for the O(rows) long-window sum (twin
    of ts_sum_fixed)."""
    q = _o_q(x, scale)
    return {
        f"{tag}_s": (
            f"SUM(CASE WHEN ({x}) IS NOT NULL THEN {q} ELSE CAST(0 AS HUGEINT) END)"
            f" OVER ({_CUM})"
        )
    }


def _o_hugeint_to_double(x: str) -> str:
    """Correctly-rounded HUGEINT→DOUBLE. DuckDB's native cast converts in
    two pieces and can be off by 1 ulp for |x| > 2^53 (observed:
    -11291163633310834 → …832e16, not the nearest …834e16), while Spark's
    BigDecimal cast rounds correctly — a 1-ulp oracle skew that splits
    rank ties. Splitting at 2^32 makes both pieces exact doubles and the
    final add the ONLY rounding, which IEEE does to-nearest-even —
    bit-identical to Spark for any |x| < ~2^85."""
    hi = f"CAST((({x}) - (({x}) % 4294967296)) // 4294967296 AS DOUBLE)"
    lo = f"CAST(({x}) % 4294967296 AS DOUBLE)"
    return f"({hi} * 4294967296.0 + {lo})"


def _o_cumdiff(col: str, d: int) -> str:
    diff = f"({col} - COALESCE(LAG({col}, {d}) OVER ({_W}), CAST(0 AS HUGEINT)))"
    return _o_hugeint_to_double(diff)


def _o_sum_fixed_expr(tag: str, d: int, scale: int = 100_000_000) -> str:
    return f"{_o_cumdiff(f'{tag}_s', d)} / {float(scale)}"


def _o_corr_fixed_expr(tag: str, d: int) -> str:
    n = _o_cumdiff(f"{tag}_n", d)
    sx = _o_cumdiff(f"{tag}_sx", d)
    sy = _o_cumdiff(f"{tag}_sy", d)
    sxx = _o_cumdiff(f"{tag}_sxx", d)
    syy = _o_cumdiff(f"{tag}_syy", d)
    sxy = _o_cumdiff(f"{tag}_sxy", d)
    varx = f"({sxx} - {sx}*{sx}/{n})"
    vary = f"({syy} - {sy}*{sy}/{n})"
    cov = f"({sxy} - {sx}*{sy}/{n})"
    return (
        f"CASE WHEN {n} >= 2 AND {varx} > 0 AND {vary} > 0"
        f" THEN {cov} / SQRT({varx}*{vary}) END"
    )


def _o_demean_fixed(x: str, part: str, scale: int = 100_000_000) -> str:
    """Oracle twin of crosssection.cs_demean_fixed: group mean from exact
    quantized-integer sums, so both engines demean with identical bits."""
    q = f"CAST(FLOOR(({x})*{scale} + 0.5) AS HUGEINT)"
    s = _o_hugeint_to_double(
        f"SUM(CASE WHEN ({x}) IS NOT NULL THEN {q} END) OVER (PARTITION BY {part})"
    )
    n = f"CAST(COUNT({x}) OVER (PARTITION BY {part}) AS DOUBLE)"
    return f"(({x}) - {s} / {n} / {scale})"


def _o_decay(lst: str) -> str:
    """decay_linear over a windowed list (weights 1..n, newest heaviest)."""
    return (
        f"list_sum(list_transform(range(1, len({lst})+1), i -> {lst}[i] * i))"
        f" / (len({lst}) * (len({lst})+1) / 2.0)"
    )


def _o_rank(x: str) -> str:
    """Average-tie percentile rank within a date; null in → null out,
    non-null ranks unshifted (NULLS LAST ordering)."""
    return (
        f"CASE WHEN {x} IS NOT NULL THEN "
        f"(rank() OVER (PARTITION BY d ORDER BY {x}) "
        f" + (COUNT(*) OVER (PARTITION BY d, {x}) - 1)/2.0) "
        f" / COUNT({x}) OVER (PARTITION BY d) END"
    )


def _o_alphas() -> str:
    return f"""
    WITH {O_BARS},
    e1 AS (
        SELECT *, LAG(close) OVER ({_W}) AS prev_close,
               CASE WHEN volume > 0 THEN LN(volume) END AS log_v,
               close - LAG(close, 1) OVER ({_W}) AS d1,
               close - LAG(close, 7) OVER ({_W}) AS d7,
               LAG(close, 7) OVER ({_W}) AS lag7c,
               amount/volume AS vwap,
               ((close - low) - (high - close)) / (close - low) AS clv,
               ((close - low) - (high - close)) / (high - low) * volume AS a60_raw,
               LAG(close, 5) OVER ({_W}) AS lag5c,
               open - close AS d_oc,
               close / open AS a38_co,
               (high + low) / 2 AS hl2,
               MIN(low) OVER ({_f(5)}) AS tmin_low5,
               (close - MIN(low) OVER ({_f(12)}))
                   / (MAX(high) OVER ({_f(12)}) - MIN(low) OVER ({_f(12)})) AS a55_stoch,
               (high - low) / (SUM(close) OVER ({_f(5)}) / 5) AS a83_hlr,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(180)}) AS adv180,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(60)}) AS adv60,
               AVG(amount) OVER ({_f(20)}) AS adv20a,
               SUM(high) OVER ({_f(5)}) / 5 AS a47_sh5,
               code % 5 AS sector,
               code % 10 AS industry,
               code % 20 AS subind,
               close - LAG(close, 5) OVER ({_W}) AS d5c,
               close - LAG(close, 10) OVER ({_W}) AS d10c,
               LAG(volume, 1) OVER ({_W}) AS lag_vol,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(30)}) AS adv30,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(40)}) AS adv40,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(50)}) AS adv50,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(5)}) AS adv5,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(15)}) AS adv15,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(20)}) AS adv20x,
               (-1 * (open - LAG(open, 2) OVER ({_W}))) / open AS a73_r,
               CAST((((high + low) / 2 + close) < (low + open)) AS DOUBLE) AS a92_b,
               high * 0.0261661 + (amount/volume) * (1 - 0.0261661) AS a74_wp,
               high * 0.876703 + close * (1 - 0.876703) AS a85_wp,
               (high + low) / 2 - amount/volume AS a77_x,
               open - MIN(open) OVER ({_f(13)}) AS a65_dev,
               open - MIN(open) OVER ({_f(12)}) AS a95_dev,
               list(close) OVER ({_f(3)}) AS l_c3,
               list(close) OVER ({_f(8)}) AS l_c8,
               list(volume) OVER ({_f(18)}) AS l_v18,
               list(volume) OVER ({_f(10)}) AS l_v10,
               list((high + low) / 2) OVER ({_f(3)}) AS l_hl3,
               list(amount/volume) FILTER ((amount/volume) IS NOT NULL)
                   OVER ({_f(3)}) AS l_vw3,
               list(amount/volume) FILTER ((amount/volume) IS NOT NULL)
                   OVER ({_f(19)}) AS l_vw19,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(10)}) AS adv10,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(81)}) AS adv81,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(120)}) AS adv120,
               AVG(CAST(volume AS DOUBLE)) OVER ({_f(150)}) AS adv150,
               high - MIN(high) OVER ({_f(2)}) AS a67_dev,
               close - MAX(close) OVER ({_f(4)}) AS a90_dev,
               (high + low)/2 - LAG((high + low)/2, 3) OVER ({_W}) AS d_hl3,
               open - LAG(open, 1) OVER ({_W}) AS a82_d,
               close * 0.60733 + open * (1 - 0.60733) AS wp79,
               open * 0.868128 + high * (1 - 0.868128) AS wp80,
               list(close) OVER ({_f(7)}) AS l_c7,
               list(low) OVER ({_f(7)}) AS l_low7
        FROM bars
    ), e2 AS (
        SELECT *, close/prev_close - 1 AS ret,
               ROUND(log_v - LAG(log_v, 2) OVER ({_W}), 9) AS dlv2,
               (close - open)/open AS intraday,
               SIGN(volume - LAG(volume, 1) OVER ({_W})) * (-1 * d1) AS alpha_012,
               SQRT(high*low) - amount/volume AS alpha_041,
               (-1 * ((low - close) * power(open, 5.0)))
                   / ((low - high) * power(close, 5.0)) AS alpha_054,
               (close - open) / ((high - low) + 0.001) AS alpha_101,
               open - LAG(high, 1) OVER ({_W}) AS a20_h,
               open - LAG(close, 1) OVER ({_W}) AS a20_c,
               open - LAG(low, 1) OVER ({_W}) AS a20_l,
               -1 * (clv - LAG(clv, 9) OVER ({_W})) AS alpha_053,
               vwap - close AS vc,
               LAG(d_oc, 1) OVER ({_W}) AS lag_doc,
               vwap - LAG(vwap, 5) OVER ({_W}) AS a47_dv,
               -1 * tmin_low5 + LAG(tmin_low5, 5) OVER ({_W}) AS a52_low,
               LAG(a83_hlr, 2) OVER ({_W}) AS a83_lag,
               LAG(d1, 1) OVER ({_W}) AS a48_ld1,
               (low - vwap) / (open - hl2) AS a66_r,
               vwap - LAG(vwap, 3) OVER ({_W}) AS a66_dv,
               vwap - LAG(vwap, 4) OVER ({_W}) AS a73_d,
               vwap - MIN(vwap) OVER ({_f(11)}) AS a94_dev,
               {_o_tsr('l_c3', 'close')} AS a71_t1,
               {_o_tsr('l_c8', 'close')} AS a88_t1,
               CASE WHEN vwap IS NOT NULL
                    THEN {_o_tsr('l_vw3', 'vwap')} END AS a72_t1,
               CASE WHEN vwap IS NOT NULL
                    THEN {_o_tsr('l_vw19', 'vwap')} END AS a94_t1,
               {_o_tsr('l_v18', 'volume')} AS a72_t2,
               {_o_tsr('l_v10', 'volume')} AS a85_t2,
               {_o_tsr('l_hl3', 'hl2')} AS a85_t1,
               list(adv180) OVER ({_f(12)}) AS l_a180_12,
               list(adv60) OVER ({_f(20)}) AS l_a60_20,
               list(adv60) OVER ({_f(4)}) AS l_a60_4,
               list(a92_b) OVER ({_f(14)}) AS l_a92b,
               list(a73_r) FILTER (a73_r IS NOT NULL) OVER ({_f(3)}) AS l_a73r,
               list(a77_x) FILTER (a77_x IS NOT NULL) OVER ({_f(20)}) AS l_a77x,
               {_o_tsr('l_c7', 'close')} AS a96_tc,
               {_o_tsr('l_low7', 'low')} AS a97_tl,
               vwap - LAG(vwap, 1) OVER ({_W}) AS a70_dv,
               close * 0.369701 + vwap * (1 - 0.369701) AS wp87,
               close * 0.524434 + vwap * (1 - 0.524434) AS wp93,
               low * 0.721001 + vwap * (1 - 0.721001) AS wp97,
               low * 0.352233 + vwap * (1 - 0.352233) AS a78_wp,
               list(adv60) OVER ({_f(17)}) AS l_a60_17,
               list(adv150) OVER ({_f(9)}) AS l_a150_9,
               list(a82_d) FILTER (a82_d IS NOT NULL) OVER ({_f(14)}) AS l_a82d
        FROM e1
    ), e2b AS (
        -- cumulative exact-integer sums for the O(rows) long-window ops
        -- (twin of ts_sum_fixed / ts_corr_fixed running sums)
        SELECT *,
               -1 * LAG(ret, 6) OVER ({_W}) AS a29_d,
               SUM(ret) OVER ({_f(2)}) AS a56_s2,
               ret * (close * volume) AS a56_rc,
               {_o_tsr('l_a180_12', 'adv180')} AS a71_t2,
               {_o_tsr('l_a60_20', 'adv60')} AS a88_t2,
               {_o_tsr('l_a60_4', 'adv60')} AS a94_t2,
               {_o_decay('l_a92b')} AS a92_dec1,
               {_o_decay('l_a73r')} AS a73_dec2,
               {_o_decay('l_a77x')} AS a77_dec1,
               list(a66_dv) FILTER (a66_dv IS NOT NULL) OVER ({_f(7)}) AS l_a66dv,
               list(a66_r) FILTER (a66_r IS NOT NULL) OVER ({_f(11)}) AS l_a66r,
               {_o_tsr('l_a60_17', 'adv60')} AS a97_ta,
               {_o_tsr('l_a150_9', 'adv150')} AS a79_t2,
               {_o_decay('l_a82d')} AS a82_dec,
               {', '.join(f'{expr} AS {name}' for name, expr in {
                   **_o_cums_sum('q64a', 'open'),
                   **_o_cums_sum('q64b', 'adv120', scale=1_000_000),
                   **_o_cums_sum('q63s', 'adv180', scale=1_000_000),
                   **_o_cums_sum('q81s', 'adv10', scale=1_000_000),
                   **_o_cums_sum('q78s', 'a78_wp'),
                   **_o_cums_corr('q80', 'high', 'adv10'),
                   **_o_cums_corr('q89', 'low', 'adv10'),
                   **_o_cums_corr('q91', 'vwap', 'adv30'),
                   **_o_cums_corr('q69', 'close', 'adv20x'),
               }.items())},
               {', '.join(f'{expr} AS {name}' for name, expr in {
                   **_o_cums_sum('c19', 'ret'),
                   **_o_cums_corr('c32', 'vwap', 'lag5c'),
                   **_o_cums_corr('c37', 'lag_doc', 'close'),
                   **_o_cums_corr('c61', 'vwap', 'adv180'),
                   **_o_cums_corr('c99b', 'low', 'volume'),
                   **_o_cums_sum('c99s1', 'hl2'),
                   **_o_cums_sum('c99s2', 'adv60'),
                   **_o_cums_corr('c48', 'd1', 'a48_ld1'),
                   **_o_cums_sum('c48d', '(ret * ret)'),
                   **_o_cums_corr('c36a', '(-1 * d_oc)', 'lag_vol'),
                   **_o_cums_corr('c36b', 'vwap', 'adv20x'),
                   **_o_cums_corr('c31', 'adv20x', 'low'),
                   **_o_cums_corr('c72a', 'hl2', 'adv40'),
                   **_o_cums_corr('c75a', 'vwap', 'volume'),
                   **_o_cums_corr('c85a', 'a85_wp', 'adv30'),
                   **_o_cums_corr('c85b', 'a85_t1', 'a85_t2', scale=100_000_000),
                   **_o_cums_corr('c72b', 'a72_t1', 'a72_t2', scale=100_000_000),
                   **_o_cums_sum('c36m', 'close'),
                   **_o_cums_sum('c65s', 'adv60', scale=1_000_000),
                   **_o_cums_sum('c74s', 'adv30', scale=1_000_000),
                   **_o_cums_sum('c95s', 'adv40', scale=1_000_000),
                   **_o_cums_sum('c98s', 'adv5', scale=1_000_000),
               }.items())}
        FROM e2
    ), e3 AS (
        SELECT *, STDDEV_SAMP(ret) OVER ({_f(20)}) AS std20,
               MIN(d1) OVER ({_f(5)}) AS tmin5,
               MAX(d1) OVER ({_f(5)}) AS tmax5,
               MIN(d1) OVER ({_f(4)}) AS tmin4,
               MAX(d1) OVER ({_f(4)}) AS tmax4,
               SUM(open) OVER ({_f(5)}) AS so5,
               SUM(ret) OVER ({_f(5)}) AS sr5,
               SUM(vwap) OVER ({_f(10)}) AS sv10,
               AVG(volume) OVER ({_f(20)}) AS adv20,
               AVG(high) OVER ({_f(20)}) AS mh20,
               high - LAG(high, 2) OVER ({_W}) AS dh2,
               STDDEV_SAMP(ret) OVER ({_f(2)}) AS s2r,
               STDDEV_SAMP(ret) OVER ({_f(5)}) AS s5r,
               MAX(vc) OVER ({_f(3)}) AS a11_max,
               MIN(vc) OVER ({_f(3)}) AS a11_min,
               volume - LAG(volume, 3) OVER ({_W}) AS a11_dv,
               ret - LAG(ret, 3) OVER ({_W}) AS a14_dr3,
               ROUND(STDDEV_SAMP(ABS(close - open)) OVER ({_f(5)}) + (close - open)
                   + (CASE WHEN STDDEV_SAMP(close) OVER ({_f(10)}) > 0
                            AND STDDEV_SAMP(open) OVER ({_f(10)}) > 0
                           THEN CORR(close, open) OVER ({_f(10)}) END), 9) AS a18_raw,
               -1 * SIGN((close - lag7c) + d7) AS a19_sign,
               {_o_sum_fixed_expr('c19', 250)} AS a19_sum,
               CASE WHEN STDDEV_SAMP(high) OVER ({_f(5)}) > 0
                     AND STDDEV_SAMP(volume) OVER ({_f(5)}) > 0
                    THEN CORR(high, volume) OVER ({_f(5)}) END AS c_hv5corr,
               STDDEV_SAMP(close) OVER ({_f(20)}) AS std20c,
               AVG(close) OVER ({_f(100)}) AS m100,
               MIN(close) OVER ({_f(100)}) AS tmin100,
               close - LAG(close, 3) OVER ({_W}) AS d3c,
               SIGN(d1) + SIGN(LAG(d1, 1) OVER ({_W}))
                   + SIGN(LAG(d1, 2) OVER ({_W})) AS a30_sgn,
               SUM(volume) OVER ({_f(5)}) AS sv5,
               SUM(volume) OVER ({_f(20)}) AS sv20,
               list(volume) OVER ({_f(32)}) AS l_v32,
               list(close + high - low) OVER ({_f(16)}) AS l_chl16,
               list(ret) FILTER (ret IS NOT NULL) OVER ({_f(32)}) AS l_ret32,
               d1 - LAG(d1, 1) OVER ({_W}) AS a17_dd1,
               list(close) OVER ({_f(30)}) AS l_c30,
               vwap - MAX(vwap) OVER ({_f(15)}) AS a84_dev,
               GREATEST(LEAST((close - LAG(close, 5) OVER ({_W})) / close, 3.0), -3.0) AS rd5,
               AVG(close) OVER ({_f(8)}) AS m8,
               STDDEV_SAMP(close) OVER ({_f(8)}) AS s8,
               AVG(close) OVER ({_f(2)}) AS m2,
               STDDEV_SAMP(high) OVER ({_f(10)}) AS a40_std,
               ROUND(AVG(lag5c) OVER ({_f(20)}), 9) AS a45_m,
               {_o_gcorr('close', 'volume', 2)} AS a45_c1,
               SUM(close) OVER ({_f(5)}) AS s5c,
               SUM(close) OVER ({_f(20)}) AS s20c,
               (LAG(close, 20) OVER ({_W}) - LAG(close, 10) OVER ({_W})) / 10
                   - (LAG(close, 10) OVER ({_W}) - close) / 10 AS a46_sd,
               SUM(close) OVER ({_f(7)}) / 7 - close AS a32_x,
               {_o_corr_fixed_expr('c32', 230)} AS a32_c,
               {_o_gcorr('high', 'volume', 10)} AS a40_c,
               {_o_corr_fixed_expr('c61', 17)} AS a61_c,
               {_o_corr_fixed_expr('c99b', 6)} AS a99_c2,
               {_o_sum_fixed_expr('c99s1', 19)} AS a99_s1,
               {_o_sum_fixed_expr('c99s2', 19)} AS a99_s2,
               ({_o_sum_fixed_expr('c19', 240)} - {_o_sum_fixed_expr('c19', 20)}) / 220 AS a52_r,
               vwap - MIN(vwap) OVER ({_f(16)}) AS a61_dev,
               list(ABS(d7)) FILTER (d7 IS NOT NULL) OVER ({_f(60)}) AS l_ad7,
               {_o_corr_fixed_expr('c48', 250)} AS a48_c,
               {_o_sum_fixed_expr('c48d', 250)} AS a48_den,
               {_o_corr_fixed_expr('c36a', 15)} AS a36_c1,
               {_o_corr_fixed_expr('c36b', 6)} AS a36_c2,
               {_o_corr_fixed_expr('c31', 12)} AS a31_c,
               {_o_corr_fixed_expr('c72a', 8)} AS a72_c1,
               {_o_corr_fixed_expr('c72a', 3)} AS a77_c,
               {_o_corr_fixed_expr('c75a', 4)} AS a75_c1,
               {_o_corr_fixed_expr('c85a', 9)} AS a85_c1,
               {_o_corr_fixed_expr('c85b', 7)} AS a85_c2,
               {_o_corr_fixed_expr('c72b', 6)} AS a72_c2,
               {_o_sum_fixed_expr('c36m', 200)} / 200 AS a36_m200,
               {_o_sum_fixed_expr('c65s', 8, 1_000_000)} AS a65_s,
               {_o_sum_fixed_expr('c74s', 37, 1_000_000)} AS a74_s,
               {_o_sum_fixed_expr('c95s', 19, 1_000_000)} AS a95_s2,
               {_o_sum_fixed_expr('c98s', 26, 1_000_000)} AS a98_s,
               {_o_sum_fixed_expr('c19', 10)} AS a56_s10,
               SUM(a56_s2) OVER ({_f(3)}) AS a56_ss,
               list(a29_d) FILTER (a29_d IS NOT NULL) OVER ({_f(5)}) AS l_a29d,
               list(a92_dec1) FILTER (a92_dec1 IS NOT NULL) OVER ({_f(18)}) AS l_a92d1,
               {_o_decay('l_a66dv')} AS a66_dec1,
               {_o_decay('l_a66r')} AS a66_dec2,
               {_o_sum_fixed_expr('q64a', 12)} AS a64_s1,
               {_o_sum_fixed_expr('q64b', 12, 1_000_000)} AS a64_s2,
               {_o_sum_fixed_expr('q63s', 37, 1_000_000)} AS a63_s,
               {_o_sum_fixed_expr('q81s', 49, 1_000_000)} AS a81_s,
               {_o_sum_fixed_expr('q78s', 19)} AS a78_s1,
               {_o_corr_fixed_expr('q80', 5)} AS a80_c,
               {_o_corr_fixed_expr('q89', 6)} AS a89_c,
               {_o_corr_fixed_expr('q91', 4)} AS a91_c2,
               {_o_corr_fixed_expr('q69', 4)} AS a69_c,
               wp87 - LAG(wp87, 1) OVER ({_W}) AS a87_d,
               wp93 - LAG(wp93, 2) OVER ({_W}) AS a93_d,
               list(a70_dv) FILTER (a70_dv IS NOT NULL) OVER ({_f(11)}) AS l_a70dv,
               {', '.join(f'{expr} AS {name}' for name, expr in {
                   **_o_cums_corr('c88', 'a88_t1', 'a88_t2', scale=100_000_000),
                   **_o_cums_corr('c94', 'a94_t1', 'a94_t2', scale=100_000_000),
                   **_o_cums_corr('c71', 'a71_t1', 'a71_t2', scale=100_000_000),
                   **_o_cums_corr('q96', 'a96_tc', 'a94_t2', scale=100_000_000),
                   **_o_cums_corr('q79', 'a72_t1', 'a79_t2', scale=100_000_000),
                   **_o_cums_corr('q97', 'a97_tl', 'a97_ta', scale=100_000_000),
               }.items())}
        FROM e2b
    ), e4 AS (
        SELECT *, CASE WHEN ret < 0 AND std20 IS NOT NULL
                       THEN std20 ELSE close END AS a1b,
               CASE WHEN tmin5 > 0 THEN d1
                    WHEN tmax5 < 0 THEN d1
                    ELSE -d1 END AS alpha_009,
               CASE WHEN tmin4 > 0 THEN d1
                    WHEN tmax4 < 0 THEN d1
                    ELSE -d1 END AS a10_core,
               CASE WHEN mh20 < high THEN -1 * dh2 ELSE 0.0 END AS alpha_023,
               so5 * sr5 AS mom,
               open - sv10/10 AS a5_dev,
               close - vwap AS a5_cv,
               ((((-1 * ret) * adv20) * vwap) * (high - close)) AS a25_raw,
               s2r / s5r AS a34_ratio,
               {_o_tsr('l_v32', 'volume')} AS a35_trv,
               {_o_tsr('l_chl16', '(close + high - low)')} AS a35_trchl,
               CASE WHEN ret IS NOT NULL
                    THEN {_o_tsr('l_ret32', 'ret')} END AS a35_trret,
               c_hv5corr - LAG(c_hv5corr, 5) OVER ({_W}) AS a22_d,
               (m100 - LAG(m100, 100) OVER ({_W}))
                   / LAG(close, 100) OVER ({_W}) AS ratio24,
               list(volume/adv20) FILTER ((volume/adv20) IS NOT NULL)
                   OVER ({_f(20)}) AS l_va20,
               list(-1*d7) FILTER ((-1*d7) IS NOT NULL) OVER ({_f(8)}) AS l_nd7,
               list(volume/adv20) FILTER ((volume/adv20) IS NOT NULL)
                   OVER ({_f(5)}) AS l_va5,
               list(a84_dev) FILTER (a84_dev IS NOT NULL) OVER ({_f(21)}) AS l_dev21,
               CASE WHEN a46_sd < -0.1 THEN 1.0 ELSE -1 * d1 END AS alpha_049,
               CASE WHEN a46_sd < -0.05 THEN 1.0 ELSE -1 * d1 END AS alpha_051,
               CASE WHEN d7 IS NOT NULL THEN {_o_tsr('l_ad7', 'ABS(d7)')} END AS a7_tr,
               CAST(SUM(sv20) OVER ({_f(14)}) AS DOUBLE) / 20.0 AS s86,
               (a48_c * d1) / close AS a48_num,
               CASE WHEN a29_d IS NOT NULL
                    THEN {_o_tsr('l_a29d', 'a29_d')} END AS a29_tr,
               {_o_tsr('l_a92d1', 'a92_dec1')} AS a92_x,
               (a36_m200 - open) * (close - open) AS a36_t,
               CAST(volume AS DOUBLE) / adv20 AS a39_va,
               CAST(SUM(sv20) OVER ({_f(22)}) AS DOUBLE) / 20.0 AS a62_s,
               a56_s10 / a56_ss AS a56_ratio,
               {_o_corr_fixed_expr('c71', 18)} AS a71_c,
               {_o_corr_fixed_expr('c88', 8)} AS a88_c2,
               {_o_corr_fixed_expr('c94', 18)} AS a94_c,
               list(a72_c1) FILTER (a72_c1 IS NOT NULL) OVER ({_f(10)}) AS l_a72c1,
               list(a72_c2) FILTER (a72_c2 IS NOT NULL) OVER ({_f(2)}) AS l_a72c2,
               list(a66_dec2) FILTER (a66_dec2 IS NOT NULL) OVER ({_f(6)}) AS l_a66d2,
               list(a73_d) FILTER (a73_d IS NOT NULL) OVER ({_f(2)}) AS l_a73d,
               list(a73_dec2) FILTER (a73_dec2 IS NOT NULL) OVER ({_f(16)}) AS l_a73dec,
               list(a77_c) FILTER (a77_c IS NOT NULL) OVER ({_f(5)}) AS l_a77c,
               {_o_decay('l_a70dv')} AS a76_dec,
               {_o_corr_fixed_expr('q96', 3)} AS a96_c,
               {_o_corr_fixed_expr('q79', 14)} AS a79_c,
               {_o_corr_fixed_expr('q97', 4)} AS a97_c,
               CAST(len(l_c30) - list_position(l_c30, list_aggregate(l_c30, 'min'))
                    AS DOUBLE) AS a100_am,
               list(a89_c) FILTER (a89_c IS NOT NULL) OVER ({_f(5)}) AS l_a89c,
               list(a80_c) FILTER (a80_c IS NOT NULL) OVER ({_f(5)}) AS l_a80c,
               list(a91_c2) FILTER (a91_c2 IS NOT NULL) OVER ({_f(2)}) AS l_a91c,
               list(a87_d) FILTER (a87_d IS NOT NULL) OVER ({_f(2)}) AS l_a87d,
               list(a93_d) FILTER (a93_d IS NOT NULL) OVER ({_f(16)}) AS l_a93dd,
               list(a69_c) FILTER (a69_c IS NOT NULL) OVER ({_f(9)}) AS l_a69c,
               {', '.join(f'{expr} AS {name}' for name, expr in {
                   **_o_cums_corr('c74a', 'close', 'a74_s'),
                   **_o_cums_corr('c65', 'open', 'a65_s'),
                   **_o_cums_corr('c95', 'a99_s1', 'a95_s2'),
                   **_o_cums_corr('c98a', 'vwap', 'a98_s'),
                   **_o_cums_corr('c99', 'a99_s1', 'a99_s2'),
                   **_o_cums_corr('q63', 'vwap', 'a63_s'),
                   **_o_cums_corr('q64', 'a64_s1', 'a64_s2'),
                   **_o_cums_corr('q81', 'vwap', 'a81_s'),
                   **_o_cums_corr('q78', 'a78_s1', 'a95_s2'),
               }.items())}
        FROM e3
    ), e5 AS (
        SELECT *, SIGN(a1b) * a1b * a1b AS sp,
               mom - LAG(mom, 10) OVER ({_W}) AS a8_raw,
               a35_trv * (1 - a35_trchl) * (1 - a35_trret) AS alpha_035,
               {_o_tsr('l_va20', '(volume/adv20)')} AS a43_a,
               CASE WHEN (-1*d7) IS NOT NULL
                    THEN {_o_tsr('l_nd7', '(-1*d7)')} END AS a43_b,
               CASE WHEN ratio24 <= 0.05 THEN -1 * (close - tmin100)
                    ELSE -1 * d3c END AS alpha_024,
               CASE WHEN (volume/adv20) IS NOT NULL
                    THEN {_o_tsr('l_va5', '(volume/adv20)')} END AS a17_trva,
               CASE WHEN a84_dev IS NOT NULL
                    THEN {_o_tsr('l_dev21', 'a84_dev')} END AS a84_tr,
               CASE WHEN m8 + s8 < m2 THEN -1.0
                    WHEN m2 < m8 - s8 THEN 1.0
                    WHEN volume / adv20 < 1 THEN -1.0
                    ELSE 1.0 END AS alpha_021,
               {_o_gcorr('adv20', 'low', 5)} + (high + low) / 2 - close AS a28_x,
               {_o_gcorr('s5c', 's20c', 2)} AS a45_c2,
               {_o_corr_fixed_expr('c37', 200)} AS a37_c,
               CASE WHEN a46_sd > 0.25 THEN -1.0
                    WHEN a46_sd < 0 THEN 1.0
                    ELSE -1 * d1 END AS alpha_046,
               CASE WHEN adv20a < amount
                    THEN (-1 * a7_tr) * SIGN(d7)
                    ELSE -1.0 END AS alpha_007,
               {_o_corr_fixed_expr('c99', 8)} AS a99_c1,
               {_o_corr_fixed_expr('c74a', 15)} AS a74_c1,
               {_o_corr_fixed_expr('c65', 6)} AS a65_c,
               {_o_corr_fixed_expr('c95', 12)} AS a95_c,
               {_o_corr_fixed_expr('c98a', 4)} AS a98_c1,
               {_o_decay('l_a73d')} AS a73_dec1,
               {_o_decay('l_a77c')} AS a77_dec2,
               {_o_decay('l_a72c1')} AS a72_dec1,
               {_o_decay('l_a72c2')} AS a72_dec2,
               CASE WHEN a73_dec2 IS NOT NULL
                    THEN {_o_tsr('l_a73dec', 'a73_dec2')} END AS a73_tr,
               CASE WHEN a66_dec2 IS NOT NULL
                    THEN {_o_tsr('l_a66d2', 'a66_dec2')} END AS a66_tr,
               list(a71_c) FILTER (a71_c IS NOT NULL) OVER ({_f(4)}) AS l_a71c,
               list(a88_c2) FILTER (a88_c2 IS NOT NULL) OVER ({_f(6)}) AS l_a88c2,
               list(a94_c) FILTER (a94_c IS NOT NULL) OVER ({_f(2)}) AS l_a94c,
               list(a39_va) FILTER (a39_va IS NOT NULL) OVER ({_f(9)}) AS l_a39,
               {_o_corr_fixed_expr('q63', 13)} AS a63_c,
               {_o_corr_fixed_expr('q64', 16)} AS a64_c,
               {_o_corr_fixed_expr('q81', 8)} AS a81_c,
               {_o_corr_fixed_expr('q78', 6)} AS a78_c,
               {_o_decay('l_a89c')} AS a89_dec5,
               CASE WHEN a80_c IS NOT NULL
                    THEN {_o_tsr('l_a80c', 'a80_c')} END AS a80_tr,
               {_o_decay('l_a91c')} AS a91_dec2,
               {_o_decay('l_a87d')} AS a87_dec,
               {_o_decay('l_a93dd')} AS a93_dec,
               CASE WHEN a69_c IS NOT NULL
                    THEN {_o_tsr('l_a69c', 'a69_c')} END AS a69_tr,
               list(a96_c) FILTER (a96_c IS NOT NULL) OVER ({_f(12)}) AS l_a96c,
               list(a97_c) FILTER (a97_c IS NOT NULL) OVER ({_f(18)}) AS l_a97c,
               {', '.join(f'{expr} AS {name}' for name, expr in {
                   **_o_cums_corr('c86', 'close', 's86'),
                   **_o_cums_corr('c62', 'vwap', 'a62_s'),
               }.items())}
        FROM e4
    ), p1 AS (
        SELECT *, list(sp) OVER ({_f(5)}) AS l_sp,
               list(volume) OVER ({_f(5)}) AS l_v5,
               list(high) OVER ({_f(5)}) AS l_h5,
               list(close) OVER ({_f(10)}) AS l_c10,
               a43_a * a43_b AS alpha_043,
               SIGN(a84_tr) * POWER(ABS(a84_tr), rd5) AS alpha_084,
               {_o_corr_fixed_expr('c86', 6)} AS a86_c,
               {_o_corr_fixed_expr('c62', 9)} AS a62_c,
               {_o_decay('l_a39')} AS a39_dec,
               {_o_decay('l_a71c')} AS a71_dec1,
               {_o_decay('l_a88c2')} AS a88_dec2,
               CASE WHEN a94_c IS NOT NULL
                    THEN {_o_tsr('l_a94c', 'a94_c')} END AS a94_tr,
               list(a98_c1) FILTER (a98_c1 IS NOT NULL) OVER ({_f(7)}) AS l_a98c1,
               CAST(len(l_a96c) - list_position(l_a96c, list_aggregate(l_a96c, 'max'))
                    AS DOUBLE) AS a96_am,
               CASE WHEN a97_c IS NOT NULL
                    THEN {_o_tsr('l_a97c', 'a97_c')} END AS a97_tr18,
               list(a89_dec5) FILTER (a89_dec5 IS NOT NULL) OVER ({_f(3)}) AS l_a89d5,
               list(a63_c) FILTER (a63_c IS NOT NULL) OVER ({_f(12)}) AS l_a63c
        FROM e5
    ), p1b AS (
        SELECT *, CAST(len(l_sp) - list_position(l_sp, list_aggregate(l_sp, 'max'))
                       AS DOUBLE) AS a1_argmax,
               (len(list_filter(l_v5, x -> x < volume))
                + len(list_filter(l_v5, x -> x <= volume)) + 1) / 2.0
                / len(l_v5) AS a26_trv,
               (len(list_filter(l_h5, x -> x < high))
                + len(list_filter(l_h5, x -> x <= high)) + 1) / 2.0
                / len(l_h5) AS a26_trh,
               CAST(len(l_c10) - list_position(l_c10, list_aggregate(l_c10, 'max'))
                    AS DOUBLE) AS a60_argmax,
               {_o_tsr('l_c10', 'close')} AS a17_trc,
               CAST(len(l_c30) - list_position(l_c30, list_aggregate(l_c30, 'max'))
                    AS DOUBLE) AS a57_argmax,
               list(a86_c) FILTER (a86_c IS NOT NULL) OVER ({_f(20)}) AS l_c86,
               list(a71_dec1) FILTER (a71_dec1 IS NOT NULL) OVER ({_f(15)}) AS l_a71d1,
               list(a88_dec2) FILTER (a88_dec2 IS NOT NULL) OVER ({_f(2)}) AS l_a88d2,
               {_o_decay('l_a98c1')} AS a98_dec1,
               CASE WHEN a89_dec5 IS NOT NULL
                    THEN {_o_tsr('l_a89d5', 'a89_dec5')} END AS a89_tr3,
               {_o_decay('l_a63c')} AS a63_dec,
               list(a96_am) FILTER (a96_am IS NOT NULL) OVER ({_f(14)}) AS l_a96am,
               list(a97_tr18) FILTER (a97_tr18 IS NOT NULL) OVER ({_f(15)}) AS l_a97tr
        FROM p1
    ), p1c AS (
        SELECT *, CASE WHEN STDDEV_SAMP(a26_trv) OVER ({_f(5)}) > 0
                        AND STDDEV_SAMP(a26_trh) OVER ({_f(5)}) > 0
                       THEN CORR(a26_trv, a26_trh) OVER ({_f(5)}) END AS c26,
               CASE WHEN a86_c IS NOT NULL
                    THEN {_o_tsr('l_c86', 'a86_c')} END AS a86_tr,
               CASE WHEN a71_dec1 IS NOT NULL
                    THEN {_o_tsr('l_a71d1', 'a71_dec1')} END AS a71_x,
               CASE WHEN a88_dec2 IS NOT NULL
                    THEN {_o_tsr('l_a88d2', 'a88_dec2')} END AS a88_y,
               {_o_decay('l_a96am')} AS a96_dec,
               {_o_decay('l_a97tr')} AS a97_dec15
        FROM p1b
    ), p1d AS (
        SELECT *, -1 * MAX(c26) OVER ({_f(3)}) AS alpha_026,
               list(a96_dec) FILTER (a96_dec IS NOT NULL) OVER ({_f(13)}) AS l_a96dec,
               list(a97_dec15) FILTER (a97_dec15 IS NOT NULL) OVER ({_f(6)}) AS l_a97dec
        FROM p1c
    ), p1e AS (
        SELECT *, CASE WHEN a96_dec IS NOT NULL
                       THEN {_o_tsr('l_a96dec', 'a96_dec')} END AS a96_tr13,
               CASE WHEN a97_dec15 IS NOT NULL
                    THEN {_o_tsr('l_a97dec', 'a97_dec15')} END AS a97_tr6
        FROM p1d
    ), p2 AS (
        SELECT *,
               {_o_rank('a1_argmax')} AS r_a1,
               {_o_rank('dlv2')} AS r_dlv2,
               {_o_rank('intraday')} AS r_intraday,
               {_o_rank('open')} AS r_open,
               {_o_rank('volume')} AS r_vol,
               {_o_rank('high')} AS r_high,
               {_o_rank('low')} AS r_low,
               {_o_rank('close')} AS r_close,
               {_o_rank('a5_dev')} AS r_a5dev,
               {_o_rank('a5_cv')} AS r_a5cv,
               {_o_rank('(-1 * (1 - open/close))')} AS alpha_033,
               -1 * ({_o_rank('a8_raw')}) AS alpha_008,
               {_o_rank('a10_core')} AS alpha_010,
               {_o_rank('a20_h')} AS r20_h,
               {_o_rank('a20_c')} AS r20_c,
               {_o_rank('a20_l')} AS r20_l,
               {_o_rank('a25_raw')} AS alpha_025,
               {_o_rank('a34_ratio')} AS r_a34ratio,
               {_o_rank('d1')} AS r_a34d1,
               {_o_rank('a60_raw')} AS r60_a,
               {_o_rank('a60_argmax')} AS r60_b,
               {_o_rank('a11_max')} AS r11_max,
               {_o_rank('a11_min')} AS r11_min,
               {_o_rank('a11_dv')} AS r11_dv,
               {_o_rank('a14_dr3')} AS r_dr3,
               -1 * ({_o_rank('a18_raw')}) AS alpha_018,
               {_o_rank('(1 + a19_sum)')} AS r_a19,
               {_o_rank('ROUND(std20c, 9)')} AS r_std20c,
               {_o_rank('a30_sgn')} AS r_a30,
               {_o_rank('a17_trc')} AS r_a17trc,
               {_o_rank('a17_dd1')} AS r_a17dd1,
               {_o_rank('a17_trva')} AS r_a17trva,
               {_o_rank('a57_argmax')} AS r_a57argmax,
               {_o_rank('vwap')} AS r_vwap,
               a28_x * 1.0 / SUM(ABS(a28_x)) OVER (PARTITION BY d) AS alpha_028,
               (a32_x * 1.0 / SUM(ABS(a32_x)) OVER (PARTITION BY d))
                   + 20 * (a32_c * 1.0 / SUM(ABS(a32_c)) OVER (PARTITION BY d)) AS alpha_032,
               {_o_rank('ROUND(a37_c, 9)')} AS r37_a,
               {_o_rank('d_oc')} AS r37_b,
               {_o_rank('a38_co')} AS r_co,
               {_o_rank('ROUND(a40_std, 9)')} AS r40,
               {_o_rank('a45_m')} AS r45_a,
               {_o_rank('ROUND(a45_c2, 9)')} AS r45_b,
               {_o_rank('vc')} AS r42_a,
               {_o_rank('(vwap + close)')} AS r42_b,
               {_o_rank('(1/close)')} AS r47_a,
               {_o_rank('(high - close)')} AS r47_b,
               {_o_rank('a47_dv')} AS r47_c,
               {_o_rank('a52_r')} AS r52,
               {_o_rank('a55_stoch')} AS r55,
               {_o_rank('a83_lag')} AS r83,
               CASE WHEN {_o_rank('a61_dev')} < {_o_rank('a61_c')}
                    THEN 1.0 ELSE 0.0 END AS alpha_061,
               CASE WHEN {_o_rank('a99_c1')} < {_o_rank('a99_c2')}
                    THEN -1.0 ELSE 0.0 END AS alpha_099,
               {_o_demean_fixed('vwap', 'd, sector')} AS nv58,
               {_o_demean_fixed('vwap', 'd, industry')} AS nv59,
               {_o_demean_fixed('a48_num', 'd, subind')} / a48_den AS alpha_048,
               {_o_rank('hl2')} AS r_hl2,
               {_o_rank('d5c')} AS r29a,
               {_o_rank('d10c')} AS r31a,
               {_o_rank('(-1 * d3c)')} AS r31c,
               SIGN(a31_c * 1.0 / SUM(ABS(a31_c)) OVER (PARTITION BY d)) AS s31,
               {_o_rank('a36_c1')} AS r36a,
               {_o_rank('a29_tr')} AS r36c,
               {_o_rank('ABS(a36_c2)')} AS r36d,
               {_o_rank('a36_t')} AS r36e,
               {_o_rank('a39_dec')} AS r39a,
               {_o_rank('a19_sum')} AS r39c,
               {_o_rank('a56_ratio')} AS r56a,
               {_o_rank('a56_rc')} AS r56b,
               {_o_rank('a62_c')} AS r62a,
               CASE WHEN {_o_rank('a65_c')} < {_o_rank('a65_dev')}
                    THEN -1.0 ELSE 0.0 END AS alpha_065,
               {_o_rank('a66_dec1')} AS r66a,
               {_o_rank('((low + open) - 2 * vwap)')} AS r71,
               {_o_rank('a72_dec1')} AS r72a,
               {_o_rank('a72_dec2')} AS r72b,
               {_o_rank('a73_dec1')} AS r73a,
               {_o_rank('a74_wp')} AS r74w,
               {_o_rank('a74_c1')} AS r74a,
               {_o_rank('a75_c1')} AS r75a,
               {_o_rank('adv50')} AS r75adv,
               {_o_rank('a77_dec1')} AS r77a,
               {_o_rank('a77_dec2')} AS r77b,
               {_o_rank('a85_c1')} AS r85a,
               {_o_rank('a85_c2')} AS r85b,
               {_o_rank('adv30')} AS r92adv,
               {_o_rank('a94_dev')} AS r94,
               {_o_rank('a95_dev')} AS r95a,
               {_o_rank('a95_c')} AS r95c,
               {_o_rank('a98_dec1')} AS r98a,
               {_o_rank('adv15')} AS r98adv,
               {_o_rank('a63_dec')} AS r63b,
               {_o_rank('a64_c')} AS r64a,
               {_o_rank('d_hl3')} AS r64b,
               {_o_rank('a67_dev')} AS r67a,
               {_o_rank('a70_dv')} AS r70a,
               {_o_rank('a76_dec')} AS r76a,
               {_o_rank('a78_c')} AS r78a,
               {_o_rank('a79_c')} AS r79b,
               {_o_rank('a81_c')} AS r81c,
               {_o_rank('a82_dec')} AS r82a,
               {_o_rank('a87_dec')} AS r87a,
               {_o_rank('a90_dev')} AS r90a,
               {_o_rank('a91_dec2')} AS r91b,
               {_o_rank('a93_dec')} AS r93b,
               {_o_rank('adv20x')} AS r_adv20,
               {_o_rank('a100_am')} AS r100b,
               {_o_demean_fixed('adv20x', 'd, subind')} AS n67,
               {_o_demean_fixed('close', 'd, industry')} AS n70,
               {_o_demean_fixed('low', 'd, sector')} AS n76,
               {_o_demean_fixed('wp79', 'd, sector')} AS n79,
               {_o_demean_fixed('wp80', 'd, industry')} AS n80,
               {_o_demean_fixed('volume', 'd, sector')} AS n82,
               {_o_demean_fixed('adv81', 'd, industry')} AS n87,
               {_o_demean_fixed('adv40', 'd, subind')} AS n90,
               {_o_demean_fixed('wp97', 'd, industry')} AS n97v
        FROM p1e
    ), p2b AS (
        SELECT *, r_a5dev * (-1 * ABS(r_a5cv)) AS alpha_005,
               (-1 * r20_h) * r20_c * r20_l AS alpha_020,
               -1 * (2 * (r60_a * 1.0 / SUM(ABS(r60_a)) OVER (PARTITION BY d))
                     - (r60_b * 1.0 / SUM(ABS(r60_b)) OVER (PARTITION BY d))) AS alpha_060,
               (r11_max + r11_min) * r11_dv AS alpha_011,
               a19_sign * (1 + r_a19) AS alpha_019,
               -1 * (ROUND(a22_d, 9) * r_std20c) AS alpha_022,
               (1.0 - r_a30) * sv5 / sv20 AS alpha_030,
               (-1 * r_a17trc) * r_a17dd1 * r_a17trva AS alpha_017,
               r37_a + r37_b AS alpha_037,
               (-1 * r_a17trc) * r_co AS alpha_038,
               (-1 * r40) * ROUND(a40_c, 9) AS alpha_040,
               -1 * ((r45_a * ROUND(a45_c1, 9)) * r45_b) AS alpha_045,
               r42_a / r42_b AS alpha_042,
               ((r47_a * (amount / adv20a)) * (high * r47_b)) / a47_sh5
                   - r47_c AS alpha_047,
               (a52_low * r52) * a26_trv AS alpha_052,
               (r83 * r_vol) / (a83_hlr / ((vwap - close) + 0.001)) AS alpha_083,
               CASE WHEN a86_tr < r_a5cv THEN -1.0 ELSE 0.0 END AS alpha_086,
               (-1 * r29a) AS a29_neg,
               (-1 * r31a) AS a31_neg,
               (((2.21 * r36a) + (0.7 * r37_b)) + (0.73 * r36c)) + r36d
                   + (0.6 * r36e) AS alpha_036,
               d7 * (1 - r39a) AS a39_in,
               (-1 * (r56a * r56b)) AS alpha_056,
               CAST(((r_open * 2) < (r_hl2 + r_high)) AS DOUBLE) AS b62,
               (r66a + a66_tr) * -1 AS alpha_066,
               r71 * r71 AS a71_sq,
               r72a / r72b AS alpha_072,
               GREATEST(r73a, a73_tr) * -1 AS alpha_073,
               LEAST(r77a, r77b) AS alpha_077,
               POWER(r85a, r85b) AS alpha_085,
               POWER(r94, a94_tr) * -1 AS alpha_094,
               ((r_open + r_low) - r_high) - r_close AS a88_comb,
               CASE WHEN r64a < r64b THEN -1.0 ELSE 0.0 END AS alpha_064
        FROM p2
    ), p2c AS (
        SELECT *,
               {_o_rank('a29_neg')} AS r29b,
               (-1 * ({_o_rank('a39_in')})) * (1 + r39c) AS alpha_039,
               CASE WHEN r62a < {_o_rank('b62')} THEN -1.0 ELSE 0.0 END AS alpha_062,
               {_o_demean_fixed('r60_a', 'd, subind')} AS n100a
        FROM p2b
    ), p2d AS (
        SELECT *, {_o_demean_fixed('n100a', 'd, subind')} AS n100b
        FROM p2c
    ), p2e AS (
        SELECT *, n100b * 1.0 / SUM(ABS(n100b)) OVER (PARTITION BY d) AS sA100
        FROM p2d
    ), p3 AS (
        SELECT *,
               r_a1 - 0.5 AS alpha_001,
               -1 * CORR(r_dlv2, r_intraday) OVER ({_f(6)}) AS alpha_002,
               -1 * CORR(r_open, r_vol) OVER ({_f(10)}) AS alpha_003,
               -1 * CORR(open, volume) OVER ({_f(10)}) AS alpha_006,
               CORR(r_high, r_vol) OVER ({_f(3)}) AS c_hv3,
               COVAR_SAMP(r_close, r_vol) OVER ({_f(5)}) AS cov_cv5,
               COVAR_SAMP(r_high, r_vol) OVER ({_f(5)}) AS cov_hv5,
               list(r_low) OVER ({_f(9)}) AS l_rlow,
               list(r_a57argmax) OVER ({_f(2)}) AS l_r57,
               {_o_gcorr('r_vol', 'r_vwap', 6)} AS a27_c,
               -1 * ({_o_gcorr('high', 'r_vol', 5)}) AS alpha_044,
               MIN(r29b) OVER ({_f(2)}) AS a29_min2,
               list(a31_neg) FILTER (a31_neg IS NOT NULL) OVER ({_f(10)}) AS l_a31n,
               list(a71_sq) FILTER (a71_sq IS NOT NULL) OVER ({_f(16)}) AS l_a71sq,
               list(a88_comb) FILTER (a88_comb IS NOT NULL) OVER ({_f(8)}) AS l_a88comb,
               n70 - LAG(n70, 2) OVER ({_W}) AS a63_d,
               nv59 - LAG(nv59, 2) OVER ({_W}) AS a69_d,
               n79 - LAG(n79, 1) OVER ({_W}) AS a79_d,
               SIGN(n80 - LAG(n80, 4) OVER ({_W})) AS a80_sgn,
               nv59 - LAG(nv59, 3) OVER ({_W}) AS a89_d,
               n97v - LAG(n97v, 3) OVER ({_W}) AS a97_d,
               {', '.join(f'{expr} AS {name}' for name, expr in {
                   **_o_cums_corr('c50', 'r_vol', 'r_vwap', scale=100_000_000),
                   **_o_cums_corr('c55', 'r55', 'r_vol', scale=100_000_000),
                   **_o_cums_corr('c58', 'nv58', 'volume'),
                   **_o_cums_corr('c59', 'nv59', 'volume'),
                   **_o_cums_corr('c92', 'r_low', 'r92adv', scale=100_000_000),
                   **_o_cums_corr('c74b', 'r74w', 'r_vol', scale=100_000_000),
                   **_o_cums_corr('c75b', 'r_low', 'r75adv', scale=100_000_000),
                   **_o_cums_corr('c98b', 'r_open', 'r98adv', scale=100_000_000),
                   **_o_cums_corr('q70', 'n70', 'adv50'),
                   **_o_cums_corr('q76', 'n76', 'adv81'),
                   **_o_cums_corr('q82', 'n82', 'open'),
                   **_o_cums_corr('q87', 'n87', 'close'),
                   **_o_cums_corr('q90', 'n90', 'low'),
                   **_o_cums_corr('q91n', 'n70', 'volume'),
                   **_o_cums_corr('q93', 'nv59', 'adv81'),
                   **_o_cums_corr('q67', 'nv58', 'n67'),
                   **_o_cums_corr('q96b', 'r_vwap', 'r_vol', scale=100_000_000),
                   **_o_cums_corr('q68', 'r_high', 'r98adv', scale=100_000_000),
                   **_o_cums_corr('q100', 'close', 'r_adv20'),
                   **_o_cums_sum('q81l', 'ROUND(LN(r81c), 9)'),
               }.items())}
        FROM p2e
    ), p3b AS (
        SELECT *,
               -1 * ((len(list_filter(l_rlow, x -> x < r_low))
                     + len(list_filter(l_rlow, x -> x <= r_low)) + 1) / 2.0
                     / len(l_rlow)) AS alpha_004,
               r_dr3 * ROUND(alpha_006, 9) AS alpha_014,
               0 - (1 * ((close - vwap)
                   / (list_sum(list_transform(range(1, len(l_r57)+1), i -> l_r57[i] * i))
                      / (len(l_r57) * (len(l_r57)+1) / 2.0)))) AS alpha_057,
               SUM(a27_c) OVER ({_f(2)}) / 2.0 AS a27_s2,
               -1 * ({_o_corr_fixed_expr('c55', 6)}) AS alpha_055,
               {_o_corr_fixed_expr('c50', 5)} AS a50_c,
               {_o_corr_fixed_expr('c58', 3)} AS a58_c,
               {_o_corr_fixed_expr('c59', 4)} AS a59_c,
               {_o_corr_fixed_expr('c92', 7)} AS a92_c,
               {_o_corr_fixed_expr('c74b', 11)} AS a74_c2,
               {_o_corr_fixed_expr('c75b', 12)} AS a75_c2,
               {_o_corr_fixed_expr('c98b', 20)} AS a98_c2,
               POWER(r95c, 5.0) AS a95_p,
               {_o_decay('l_a31n')} AS a31_dec,
               {_o_decay('l_a71sq')} AS a71_dec2,
               {_o_decay('l_a88comb')} AS a88_dec1,
               LN(a29_min2) AS a29_log,
               {_o_corr_fixed_expr('q70', 17)} AS a70_c,
               {_o_corr_fixed_expr('q76', 8)} AS a76_c,
               {_o_corr_fixed_expr('q82', 17)} AS a82_c,
               ABS({_o_corr_fixed_expr('q87', 13)}) AS a87_c,
               {_o_corr_fixed_expr('q90', 5)} AS a90_c,
               {_o_corr_fixed_expr('q91n', 9)} AS a91_cn,
               {_o_corr_fixed_expr('q93', 17)} AS a93_c,
               {_o_corr_fixed_expr('q67', 6)} AS a67_c,
               {_o_corr_fixed_expr('q96b', 3)} AS a96_cb,
               {_o_corr_fixed_expr('q68', 8)} AS a68_cx,
               {_o_corr_fixed_expr('q100', 5)} AS a100_c,
               {_o_sum_fixed_expr('q81l', 14)} AS a81_lp,
               MAX(a69_d) OVER ({_f(4)}) AS a69_m,
               list(a63_d) FILTER (a63_d IS NOT NULL) OVER ({_f(8)}) AS l_a63d,
               list(a89_d) FILTER (a89_d IS NOT NULL) OVER ({_f(10)}) AS l_a89d10,
               list(a97_d) FILTER (a97_d IS NOT NULL) OVER ({_f(20)}) AS l_a97d20
        FROM p3
    ), p3c AS (
        SELECT *,
               list(a58_c) FILTER (a58_c IS NOT NULL) OVER ({_f(7)}) AS l_a58c,
               list(a59_c) FILTER (a59_c IS NOT NULL) OVER ({_f(16)}) AS l_a59c,
               list(a92_c) FILTER (a92_c IS NOT NULL) OVER ({_f(6)}) AS l_a92c,
               list(a95_p) FILTER (a95_p IS NOT NULL) OVER ({_f(11)}) AS l_a95p,
               list(a98_c2) FILTER (a98_c2 IS NOT NULL) OVER ({_f(8)}) AS l_a98c2,
               list(a71_dec2) FILTER (a71_dec2 IS NOT NULL) OVER ({_f(4)}) AS l_a71d2,
               {_o_decay('l_a63d')} AS a63_dec8,
               {_o_decay('l_a89d10')} AS a89_dec10,
               {_o_decay('l_a97d20')} AS a97_dec20,
               a100_c - r100b AS b100,
               list(a70_c) FILTER (a70_c IS NOT NULL) OVER ({_f(17)}) AS l_a70c,
               list(a76_c) FILTER (a76_c IS NOT NULL) OVER ({_f(19)}) AS l_a76c,
               list(a82_c) FILTER (a82_c IS NOT NULL) OVER ({_f(6)}) AS l_a82c,
               list(a87_c) FILTER (a87_c IS NOT NULL) OVER ({_f(4)}) AS l_a87c2,
               list(a90_c) FILTER (a90_c IS NOT NULL) OVER ({_f(3)}) AS l_a90c,
               list(a91_cn) FILTER (a91_cn IS NOT NULL) OVER ({_f(16)}) AS l_a91cn,
               list(a93_c) FILTER (a93_c IS NOT NULL) OVER ({_f(19)}) AS l_a93c,
               list(a96_cb) FILTER (a96_cb IS NOT NULL) OVER ({_f(4)}) AS l_a96cb,
               list(a68_cx) FILTER (a68_cx IS NOT NULL) OVER ({_f(13)}) AS l_a68c
        FROM p3b
    ), p3d AS (
        SELECT *,
               {_o_decay('l_a58c')} AS a58_dec,
               {_o_decay('l_a59c')} AS a59_dec,
               {_o_decay('l_a92c')} AS a92_dec2,
               CASE WHEN a95_p IS NOT NULL
                    THEN {_o_tsr('l_a95p', 'a95_p')} END AS a95_tr,
               CAST(len(l_a98c2) - list_position(l_a98c2, list_aggregate(l_a98c2, 'min'))
                    AS DOUBLE) AS a98_am,
               {_o_tsr('l_a71d2', 'a71_dec2')} AS a71_y,
               CASE WHEN a70_c IS NOT NULL
                    THEN {_o_tsr('l_a70c', 'a70_c')} END AS a70_tr,
               CASE WHEN a76_c IS NOT NULL
                    THEN {_o_tsr('l_a76c', 'a76_c')} END AS a76_tr19,
               {_o_decay('l_a82c')} AS a82_dec6,
               {_o_decay('l_a87c2')} AS a87_dec4,
               CASE WHEN a90_c IS NOT NULL
                    THEN {_o_tsr('l_a90c', 'a90_c')} END AS a90_tr,
               {_o_decay('l_a91cn')} AS a91_deca,
               {_o_decay('l_a93c')} AS a93_dec19,
               {_o_decay('l_a96cb')} AS a96_dec4,
               CASE WHEN a68_cx IS NOT NULL
                    THEN {_o_tsr('l_a68c', 'a68_cx')} END AS a68_tr
        FROM p3c
    ), p3e AS (
        SELECT *,
               list(a58_dec) FILTER (a58_dec IS NOT NULL) OVER ({_f(5)}) AS l_d58,
               list(a59_dec) FILTER (a59_dec IS NOT NULL) OVER ({_f(8)}) AS l_d59,
               list(a92_dec2) FILTER (a92_dec2 IS NOT NULL) OVER ({_f(6)}) AS l_a92d2,
               list(a98_am) FILTER (a98_am IS NOT NULL) OVER ({_f(6)}) AS l_a98am,
               list(a76_tr19) FILTER (a76_tr19 IS NOT NULL) OVER ({_f(17)}) AS l_a76tr,
               list(a82_dec6) FILTER (a82_dec6 IS NOT NULL) OVER ({_f(13)}) AS l_a82d6,
               list(a87_dec4) FILTER (a87_dec4 IS NOT NULL) OVER ({_f(14)}) AS l_a87d4,
               list(a89_dec10) FILTER (a89_dec10 IS NOT NULL) OVER ({_f(15)}) AS l_a89dec,
               list(a91_deca) FILTER (a91_deca IS NOT NULL) OVER ({_f(3)}) AS l_a91da,
               list(a93_dec19) FILTER (a93_dec19 IS NOT NULL) OVER ({_f(7)}) AS l_a93dec,
               list(a96_dec4) FILTER (a96_dec4 IS NOT NULL) OVER ({_f(8)}) AS l_a96d4
        FROM p3d
    ), p3f AS (
        SELECT *,
               {_o_decay('l_a76tr')} AS a76_dec17,
               CASE WHEN a82_dec6 IS NOT NULL
                    THEN {_o_tsr('l_a82d6', 'a82_dec6')} END AS a82_tr13,
               CASE WHEN a87_dec4 IS NOT NULL
                    THEN {_o_tsr('l_a87d4', 'a87_dec4')} END AS a87_tr14,
               CASE WHEN a89_dec10 IS NOT NULL
                    THEN {_o_tsr('l_a89dec', 'a89_dec10')} END AS a89_tr15,
               {_o_decay('l_a91da')} AS a91_decb,
               CASE WHEN a93_dec19 IS NOT NULL
                    THEN {_o_tsr('l_a93dec', 'a93_dec19')} END AS a93_tr7,
               CASE WHEN a96_dec4 IS NOT NULL
                    THEN {_o_tsr('l_a96d4', 'a96_dec4')} END AS a96_tr8,
               CASE WHEN a68_tr < r_a34d1 THEN -1.0 ELSE 0.0 END AS alpha_068,
               POWER(r70a, a70_tr) * -1 AS alpha_070,
               POWER(r90a, a90_tr) * -1 AS alpha_090
        FROM p3e
    ), p3g AS (
        SELECT *,
               list(a76_dec17) FILTER (a76_dec17 IS NOT NULL) OVER ({_f(19)}) AS l_a76d17,
               list(a91_decb) FILTER (a91_decb IS NOT NULL) OVER ({_f(4)}) AS l_a91db
        FROM p3f
    ), p3h AS (
        SELECT *,
               CASE WHEN a76_dec17 IS NOT NULL
                    THEN {_o_tsr('l_a76d17', 'a76_dec17')} END AS a76_tr19b,
               CASE WHEN a91_decb IS NOT NULL
                    THEN {_o_tsr('l_a91db', 'a91_decb')} END AS a91_tr4,
               LEAST(r82a, a82_tr13) * -1 AS alpha_082,
               GREATEST(r87a, a87_tr14) * -1 AS alpha_087,
               a89_tr3 - a89_tr15 AS alpha_089,
               a93_tr7 / r93b AS alpha_093,
               GREATEST(a96_tr8, a96_tr13) * -1 AS alpha_096
        FROM p3g
    ), p4 AS (
        SELECT *, {_o_rank('ROUND(c_hv3, 9)')} AS r_chv3,
               -1 * ({_o_rank('ROUND(cov_cv5, 9)')}) AS alpha_013,
               {_o_rank('((1 - r_a34ratio) + (1 - r_a34d1))')} AS alpha_034,
               -1 * ({_o_rank('ROUND(cov_hv5, 9)')}) AS alpha_016,
               {_o_rank('ROUND(a27_s2, 9)')} AS r27,
               {_o_rank('a50_c')} AS r50,
               CASE WHEN a58_dec IS NOT NULL
                    THEN -1 * ({_o_tsr('l_d58', 'a58_dec')}) END AS alpha_058,
               CASE WHEN a59_dec IS NOT NULL
                    THEN -1 * ({_o_tsr('l_d59', 'a59_dec')}) END AS alpha_059,
               CASE WHEN a92_dec2 IS NOT NULL
                    THEN {_o_tsr('l_a92d2', 'a92_dec2')} END AS a92_y,
               CASE WHEN a98_am IS NOT NULL
                    THEN {_o_tsr('l_a98am', 'a98_am')} END AS a98_tr,
               CASE WHEN r95a < a95_tr THEN 1.0 ELSE 0.0 END AS alpha_095,
               GREATEST(a71_x, a71_y) AS alpha_071,
               a29_log * 1.0 / SUM(ABS(a29_log)) OVER (PARTITION BY d) AS a29_s,
               {_o_rank('a31_dec')} + r31c + s31 AS alpha_031,
               LEAST({_o_rank('a88_dec1')}, a88_y) AS alpha_088,
               CASE WHEN r74a < {_o_rank('a74_c2')}
                    THEN -1.0 ELSE 0.0 END AS alpha_074,
               CASE WHEN r75a < {_o_rank('a75_c2')}
                    THEN 1.0 ELSE 0.0 END AS alpha_075,
               ({_o_rank('a63_dec8')} - r63b) * -1 AS alpha_063,
               POWER(r67a, {_o_rank('a67_c')}) * -1 AS alpha_067,
               POWER({_o_rank('a69_m')}, a69_tr) * -1 AS alpha_069,
               GREATEST(r76a, a76_tr19b) * -1 AS alpha_076,
               CASE WHEN {_o_rank('a79_d')} < r79b
                    THEN 1.0 ELSE 0.0 END AS alpha_079,
               POWER({_o_rank('a80_sgn')}, a80_tr) * -1 AS alpha_080,
               (a91_tr4 - r91b) * -1 AS alpha_091,
               ({_o_rank('a97_dec20')} - a97_tr6) * -1 AS alpha_097,
               {_o_demean_fixed('b100', 'd, subind')} AS nB100,
               {_o_rank('a81_lp')} AS r81lp
        FROM p3h
    ), p4b AS (
        SELECT *,
               LEAST(a92_x, a92_y) AS alpha_092,
               list(a98_tr) FILTER (a98_tr IS NOT NULL) OVER ({_f(8)}) AS l_a98tr,
               {_o_rank('a29_s')} AS r29c,
               POWER(r78a, r50) AS alpha_078,
               CASE WHEN r81lp < r50 THEN -1.0 ELSE 0.0 END AS alpha_081,
               nB100 * 1.0 / SUM(ABS(nB100)) OVER (PARTITION BY d) AS sB100
        FROM p4
    ), p4c AS (
        SELECT *,
               {_o_decay('l_a98tr')} AS a98_dec2
        FROM p4b
    ), p5 AS (
        SELECT *, -1 * SUM(r_chv3) OVER ({_f(3)}) AS alpha_015,
               CASE WHEN r27 > 0.5 THEN -1.0 ELSE 1.0 END AS alpha_027,
               -1 * MAX(r50) OVER ({_f(5)}) AS alpha_050,
               MIN(r29c) OVER ({_f(5)}) + a29_tr AS alpha_029,
               r98a - ({_o_rank('a98_dec2')}) AS alpha_098,
               -1 * ((1.5 * sA100 - sB100) * (amount / adv20a)) AS alpha_100
        FROM p4c
    )
    SELECT code, d,
           {', '.join(f'FLOOR({c} * 1000000 + 0.5) / 1000000.0 AS {c}' for c in ALPHA_COLS)}
    FROM p5
    """


# ---------------------------------------------------------------------------
# Alpha-lab IC scan over the WHOLE alpha table (`pages/5_Alpha lab.py:44-55`,
# the 101-column corrwith): unpivot every alpha to long, average-tie rank
# per (date, factor), one groupBy corr per factor — the entire factor set's
# Spearman IC in a single date-axis shuffle instead of a per-column loop.
# ---------------------------------------------------------------------------
def _o_alpha_ic(cols: list[str]) -> str:
    # single-scan melt: UNNEST of one struct list per row (101 UNION ALL
    # branches would re-scan the whole alpha CTE per factor and OOM the
    # oracle; UNPIVOT is also out — it drops NULL fvals, which must stay
    # so the fwd-ret rank denominators match Spark's stack()). The alphas
    # CTE is dependency-pruned to `cols` (oracle_prune.py) so a driver
    # running DuckDB at default thread count can't hit the kernel's
    # vm.max_map_count wall the full-width chain hits.
    structs = ", ".join(f"{{'factor': '{c}', 'fval': {c}}}" for c in cols)
    melt = (
        f"SELECT code, d, u.factor AS factor, u.fval AS fval FROM (\n"
        f"            SELECT code, d, UNNEST([{structs}]) AS u FROM alphas)"
    )
    rank = (
        "CASE WHEN {x} IS NOT NULL THEN "
        "(rank() OVER (PARTITION BY d, factor ORDER BY {x}) "
        " + (COUNT(*) OVER (PARTITION BY d, factor, {x}) - 1)/2.0) "
        " / COUNT({x}) OVER (PARTITION BY d, factor) END"
    )
    alphas_sql = (
        _o_alphas() if len(cols) == len(ALPHA_COLS) else prune_alpha_oracle(_o_alphas(), cols)
    )
    return f"""
    WITH alphas AS ({alphas_sql}),
    {O_BARS},
    fwd AS (
        SELECT code, d,
               LEAD(close) OVER (PARTITION BY code ORDER BY d) / close - 1 AS fwd_ret
        FROM bars
    ),
    long AS (
        {melt}
    ),
    joined AS (
        SELECT l.code, l.d, l.factor, l.fval, f.fwd_ret
        FROM long l JOIN fwd f ON l.code = f.code AND l.d = f.d
        WHERE f.fwd_ret IS NOT NULL
    ),
    ranked AS (
        SELECT factor, d,
               {rank.format(x='fval')} AS r_f,
               {rank.format(x='fwd_ret')} AS r_r
        FROM joined
    ),
    per_date AS (
        -- degenerate-date gate on DISTINCT COUNTS, not stddev: with
        -- mass-tied ranks the variance is numerically zero on one engine
        -- and a 1e-17 Welford residue on the other, so a stddev>0 gate
        -- (and the engines' own NULL-vs-NaN corr behavior) diverges;
        -- distinct counts are exact integers on both
        SELECT factor, d,
               CASE WHEN COUNT(DISTINCT r_f) > 1
                     AND COUNT(DISTINCT CASE WHEN r_f IS NOT NULL THEN r_r END) > 1
                    THEN CORR(r_f, r_r) END AS ic
        FROM ranked GROUP BY factor, d
    )
    SELECT factor,
           ROUND(SUM(CAST(ROUND(ic*1000000,0) AS BIGINT))/1000000.0
                 / COUNT(ic), 6) AS mean_ic,
           CAST(COUNT(ic) AS BIGINT) AS n_days
    FROM per_date GROUP BY factor
    """


def _ic_scan(spark: SparkSession, sf_dir: str, cols: list[str]) -> DataFrame:
    from pyspark.sql import Window

    bars = bars_table(spark, sf_dir)
    alphas = _alpha_table(spark, sf_dir).select("code", "d", *cols)
    fwd = bars.select(
        "code",
        "d",
        (
            F.lead("close").over(Window.partitionBy("code").orderBy("d")) / F.col("close") - 1
        ).alias("fwd_ret"),
    ).filter(F.col("fwd_ret").isNotNull())
    stack_expr = "stack({}, {}) AS (factor, fval)".format(
        len(cols), ", ".join(f"'{c}', {c}" for c in cols)
    )
    # join BEFORE the stack: the k-way unpivot multiplies rows ×k, so the
    # equi-join runs on the 1×-wide panel, not the k× long table. The
    # forward-return rank is also computed here, once per date on the
    # wide panel — it is identical for every factor (same codes, fwd_ret
    # never null), so ranking it again per (date, factor) on the long
    # table would redo the same sort k times.
    wide = alphas.join(fwd, ["code", "d"])
    ord_r = Window.partitionBy("d").orderBy(F.col("fwd_ret").asc_nulls_last())
    n_d = F.count("fwd_ret").over(Window.partitionBy("d"))
    ties_r = F.count("fwd_ret").over(ord_r.rangeBetween(Window.currentRow, Window.currentRow))
    wide = wide.withColumn(
        "r_r", (F.rank().over(ord_r) + (ties_r - 1) / 2.0) / n_d
    )
    long = wide.selectExpr("code", "d", "r_r", stack_expr)

    def avg_rank(c: str):
        col = F.col(c)
        ordered = Window.partitionBy("d", "factor").orderBy(col.asc_nulls_last())
        r_min = F.rank().over(ordered)
        ties = F.count(col).over(ordered.rangeBetween(Window.currentRow, Window.currentRow))
        n = F.count(col).over(Window.partitionBy("d", "factor"))
        return F.when(col.isNotNull(), (r_min + (ties - 1) / 2.0) / n)

    ranked = long.select("factor", "d", avg_rank("fval").alias("r_f"), "r_r")
    per_date = ranked.groupBy("factor", "d").agg(
        F.when(
            (F.count_distinct("r_f") > 1)
            & (F.count_distinct(F.when(F.col("r_f").isNotNull(), F.col("r_r"))) > 1),
            F.corr("r_f", "r_r"),
        ).alias("ic")
    )
    return per_date.groupBy("factor").agg(
        F.round(
            F.sum(F.round(F.col("ic") * 1_000_000, 0).cast("long")) / 1_000_000.0 / F.count("ic"),
            6,
        ).alias("mean_ic"),
        F.count("ic").alias("n_days"),
    )


# The full-width IC result is computed ONCE per session and shared by
# alpha_ic_scan and the four gate splits — valid because every IC row is
# per-factor independent (r_f is ranked per (date, factor), r_r per date
# on the wide panel, corr per (factor, date) group), so a factor-subset
# scan and a row filter of the full scan are the same relation. The
# table is 101 rows × 3 columns.
def _ic_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark,
        ("ic", sf_dir),
        (table_path(sf_dir, "events"),),
        lambda: local_leaf(spark, _ic_scan(spark, sf_dir, list(ALPHA_COLS))),
    )


@query("alpha_ic_scan")  # rows-only at the gate; full-width oracle in pytest
def alpha_ic_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 101-column corrwith (`pages/5_Alpha lab.py:44-55`).

    Registered WITHOUT a driver oracle: its full-width DuckDB twin embeds
    the whole 101-alpha CTE chain, which crosses vm.max_map_count at
    default DuckDB thread counts (see ALPHA_GATE_PARTS). Every IC row is
    value-hashed at the gate through the four factor splits
    (`alpha_ic_gate`, `alpha_ic_b/c/d`), and the full width is compared
    in tests/test_oracle_parity.py via the mitigated checker config.
    """
    return _ic_table(spark, sf_dir)


@query("alpha_ic_gate", oracle=_o_alpha_ic(ALPHA_GATE_PARTS[0]))
def alpha_ic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate slice of the IC scan: factor-filter of the shared
    full-width IC table, hashed against a dependency-pruned oracle."""
    return _ic_table(spark, sf_dir).filter(
        F.col("factor").isin(list(ALPHA_GATE_PARTS[0]))
    )


def _register_ic_gate_parts() -> None:
    """alpha_ic_b/c/d: the remaining three 25/26-factor IC splits.

    Together with alpha_ic_gate (split a) every one of the 101 alpha IC
    rows is value-hashed at the driver gate through a dependency-pruned
    oracle chain — the full-width ``alpha_ic_scan`` stays registered for
    reference parity (`pages/5_Alpha lab.py:44-55`) with its pytest-only
    full oracle, but no gate slot is spent on a rows-only check anymore.
    All four splits read the one cached IC table (per-factor rows are
    independent — see _ic_table), so the suite pays for ONE scan.
    """
    for label, part in list(zip("abcd", ALPHA_GATE_PARTS))[1:]:

        def run(spark: SparkSession, sf_dir: str, _part=tuple(part)) -> DataFrame:
            return _ic_table(spark, sf_dir).filter(F.col("factor").isin(list(_part)))

        run.__name__ = f"alpha_ic_{label}"
        run.__doc__ = (
            "Driver-gate slice of the 101-factor Spearman IC scan: factor-"
            "filter of the shared IC table; oracle is the dependency-"
            "pruned chain for exactly these factors (oracle_prune.py)."
        )
        query(f"alpha_ic_{label}", oracle=_o_alpha_ic(list(part)))(run)


_register_ic_gate_parts()


# The rounded alpha table is MATERIALIZED once per session and shared by
# alpha101_subset and alpha_ic_scan — the Spark analog of the reference's
# precomputed factor_db (`database_schema.md:271`): the IC scan reads the
# factor table, it does not re-run the factor DAG. The table is (code, d,
# 101 doubles) — a few MB at bench scale.
def _alpha_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark,
        ("alpha", sf_dir),
        (table_path(sf_dir, "events"),),
        lambda: _build_alpha(spark, sf_dir),
    )


def _build_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fail FAST on a heap that cannot fit the 101-alpha build: a
    # 1.07 GB local-mode driver demonstrably OOM-KILLS the whole
    # SparkContext mid-build (r9 rehearsal; verified at both 32 and
    # 8 shuffle partitions), which would poison every query AFTER
    # this one in a 50-query gate session ("Connection refused" for
    # the rest). Raising a python error instead keeps the context
    # alive, so only the alpha family reports red. The threshold is
    # conservative — below it the build cannot succeed anyway; the
    # build is verified green at 8 GB and sessions in between are
    # allowed to try.
    try:
        heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    except Exception:  # noqa: BLE001 — connect-mode or JVM gone: just try
        heap = None
    if heap is not None and heap < 1_400_000_000:
        raise RuntimeError(
            f"driver heap {heap / 1e9:.2f} GB is too small for the "
            "101-alpha cache build (a ~1 GB heap OOM-kills the "
            "SparkContext); launch with spark.driver.memory >= 2g"
        )
    # The alpha build reads a defaultParallelism-floored bars leaf,
    # NOT the shared 4-partition `bars_table` leaf the other ~83 bar
    # consumers use (r14 item 1, guide §2.2): the ~66k-expression DAG
    # collapses hundreds of row-level arithmetic projections below
    # its first exchange, and with AQE off for the build those
    # pre-shuffle stages ride leaf parallelism with nothing to
    # re-spread them — cold fresh-JVM probes (tools/alpha_probe.py,
    # n=3 interleaved, r14 host) measured build exec 81/83/157 s on
    # the 4-partition leaf (unstable: 4 long tasks on 32 cores are
    # at the mercy of JIT/GC stalls) vs 58/60 s on the
    # defaultParallelism leaf and 63/67 s recomputing from events.
    # The small-floor leaf stays right for the OTHER consumers
    # (broadcast-chain micro-task storms, r13 §6 measurements); this
    # one consumer is the documented exception. At 100 TB the
    # bytes-derived term dominates both floors and they converge.
    alpha_bars = checkpoint_sized(
        spark,
        daily_bars(spark, sf_dir),
        _BAR_ROW_BYTES,
        floor=spark.sparkContext.defaultParallelism,
    )
    out = with_alphas(alpha_bars)
    # floor-based 6dp rounding, not ROUND: alpha values are products
    # of rank rationals whose shortest decimal representation often
    # ends in a literal "...5" right at the rounding boundary, and
    # Spark (BigDecimal of the shortest repr, HALF_UP) disagrees with
    # DuckDB (multiply-then-round on the raw double) on exactly those
    # values. floor(x*1e6 + 0.5)/1e6 is identical IEEE on both.
    df = out.select(
        "code",
        "d",
        *[
            (F.floor(F.col(c) * 1_000_000 + 0.5) / 1_000_000.0).alias(c)
            for c in ALPHA_COLS
        ],
    )
    # Materialized with AQE off (~30 window stages, no joins for AQE to
    # re-plan, and AQE cannot split skewed window partitions anyway)
    # and lineage-truncated: a merely persisted DataFrame keeps its
    # full logical plan, so EVERY derived query re-analyzed the whole
    # ~30-layer DAG tree (~2 s per derived query × 7 alpha-family
    # queries). A production run would write parquet here
    # (with_alphas(checkpoint_dir=…) is that path).
    return local_leaf(spark, df)


@query("alpha101_subset")  # rows-only at the gate; full-width oracle in pytest
def alpha101_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 101-column alpha table (flagship factor build).

    Registered WITHOUT a driver oracle — the full-width DuckDB twin is the
    query that silently emptied the round-3 driver gate (vm.max_map_count
    exhaustion at default thread count, reported as OutOfMemory). Every
    one of the 101 columns is still value-hashed at the gate through the
    four pruned splits below; the full-width comparison lives in
    tests/test_oracle_parity.py under the mitigated checker config.
    """
    return _alpha_table(spark, sf_dir)


def _register_alpha_gate_parts() -> None:
    for label, part in zip("abcd", ALPHA_GATE_PARTS):
        def run(spark: SparkSession, sf_dir: str, _part=tuple(part)) -> DataFrame:
            return _alpha_table(spark, sf_dir).select("code", "d", *_part)

        run.__name__ = f"alpha101_{label}"
        run.__doc__ = (
            "Driver-gate slice of the 101-alpha table: shares the one "
            "persisted Spark-side build; the oracle is the dependency-"
            "pruned CTE chain for exactly these columns (oracle_prune.py)."
        )
        query(f"alpha101_{label}", oracle=prune_alpha_oracle(_o_alphas(), list(part)))(run)


_register_alpha_gate_parts()

# full-width oracles, excluded from the driver gate (they OOM a default-
# threaded DuckDB via vm.max_map_count) but still enforced by pytest
PYTEST_ONLY_ORACLES: dict[str, str] = {
    "alpha101_subset": _o_alphas(),
    "alpha_ic_scan": _o_alpha_ic(list(ALPHA_COLS)),
}
