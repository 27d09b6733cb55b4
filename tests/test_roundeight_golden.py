"""Round-8 regression tests: the r7 ADVICE fixes (Kaplan-Meier
zero-factor guard, pair-query degenerate-panel guards; the
versioned_store torn-overwrite test lives in test_versioned_store.py)
plus bit-parity of the global_ntile helper
against the window-function NTILE it replaces."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from quantitative_database_and_visualization_platform_spark.operators.relational import global_ntile
from quantitative_database_and_visualization_platform_spark.plans import QUERIES


def _write(df, path):
    df.coalesce(1).write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# ADVICE r7 #1 (medium): when d == n_risk at the final event time the
# Kaplan-Meier factor is exactly 0 and the curve must be exactly 0 from
# there on. Spark's ln(0) is NULL and F.sum skips NULLs, so the unguarded
# exp-sum form silently returned a nonzero survival. The sandbox testdata
# never fires this (211 censored rows outlast the last event), so build a
# panel with NO censored survivor: every order ships inside the horizon.
# ---------------------------------------------------------------------------
@pytest.mark.full_tier  # r14 smoke split (see conftest)
def test_kaplan_meier_survival_exactly_zero_when_risk_set_exhausts(spark, tmp_path):
    sf = str(tmp_path / "km")
    orders = spark.createDataFrame(
        [(k, f"2024-01-0{k}") for k in (1, 2, 3)],
        "o_orderkey long, o_orderdate string",
    ).select("o_orderkey", F.col("o_orderdate").cast("timestamp").alias("o_orderdate"))
    li = spark.createDataFrame(
        [(1, "2024-01-02"), (2, "2024-01-04"), (3, "2024-01-06")],
        "l_orderkey long, l_shipdate string",
    ).select("l_orderkey", F.col("l_shipdate").cast("timestamp").alias("l_shipdate"))
    _write(orders, os.path.join(sf, "orders.parquet"))
    _write(li, os.path.join(sf, "lineitem.parquet"))
    rows = {r["t_days"]: r for r in QUERIES["kaplan_meier_ship_times"](spark, sf).collect()}
    # lags are 1, 2, 3 days; at t=3 the last at-risk order ships: d == n_risk
    assert set(rows) == {1, 2, 3}
    assert rows[3]["n_events"] == rows[3]["n_risk"] == 1
    assert rows[3]["survival"] == 0.0  # exactly zero, not exp(partial sum)
    # earlier points follow the textbook product: 2/3, 1/3
    assert abs(rows[1]["survival"] - 2 / 3) < 2e-6
    assert abs(rows[2]["survival"] - 1 / 3) < 2e-6


# ---------------------------------------------------------------------------
# ADVICE r7 #3 (low): the two pair-trading queries index two[0]/two[1]
# after collecting the two lowest codes; a single-code panel must return
# the empty result with the output schema (the oracle side degrades to
# zero rows), not IndexError on the driver.
# ---------------------------------------------------------------------------
def test_pair_queries_empty_on_single_code_panel(spark, tmp_path):
    sf = str(tmp_path / "single")
    ev = spark.createDataFrame(
        [
            (i, f"2024-01-{d:02d} 10:00:00", 1, "trade", 10.0 + d, f"k={i}")
            for i, d in enumerate(range(1, 11), start=1)
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    _write(ev, os.path.join(sf, "events.parquet"))
    lead = QUERIES["leadlag_cross_correlation"](spark, sf)
    assert lead.count() == 0
    assert lead.columns == ["lag", "n", "xcorr"]
    pairs = QUERIES["pairs_spread_zscore"](spark, sf)
    assert pairs.count() == 0
    assert pairs.columns == ["d", "beta", "spread", "zscore"]


# ---------------------------------------------------------------------------
# global_ntile (r8): bit-parity with the window-function NTILE it replaces
# (the SinglePartition WindowExec fix), across ascending / descending /
# PARTITION BY / N<n shapes and a partition count that forces multi-slice
# offsets.
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def ntile_df(spark):
    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50), rng.choice("abc")) for i in range(1, 1001)]
    return spark.createDataFrame(rows, "k int, v int, g string").repartition(13)


def _same(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_global_ntile_matches_window_ntile_asc(ntile_df):
    exp = ntile_df.withColumn("b", F.ntile(5).over(Window.orderBy("v", "k")))
    got = global_ntile(ntile_df, 5, ["v", "k"], out="b")
    assert _same(exp, got)


def test_global_ntile_matches_window_ntile_desc(ntile_df):
    exp = ntile_df.withColumn("b", F.ntile(4).over(Window.orderBy(F.desc("v"), "k")))
    got = global_ntile(ntile_df, 4, [F.desc("v"), F.col("k")], out="b")
    assert _same(exp, got)


def test_global_ntile_matches_partitioned_window_ntile(ntile_df):
    exp = ntile_df.withColumn(
        "b", F.ntile(3).over(Window.partitionBy("g").orderBy("v", "k"))
    )
    got = global_ntile(ntile_df, 3, ["v", "k"], partition_cols=["g"], out="b")
    assert _same(exp, got)


def test_global_ntile_n_larger_than_rows(spark):
    small = spark.createDataFrame([(i, i) for i in range(1, 4)], "k int, v int")
    exp = small.withColumn("b", F.ntile(10).over(Window.orderBy("v", "k")))
    got = global_ntile(small, 10, ["v", "k"], out="b")
    assert sorted(map(tuple, exp.collect())) == sorted(map(tuple, got.collect()))


def test_global_ntile_plans_range_exchange_not_single_partition(ntile_df):
    got = global_ntile(ntile_df, 5, ["v", "k"], out="b")
    plan = got._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan


# ---------------------------------------------------------------------------
# Same degenerate-input class, found by audit (r8): queries that index a
# bounded driver read must degrade to the oracle's zero-row result on
# empty inputs, not TypeError/IndexError on the driver.
# ---------------------------------------------------------------------------
def test_stratified_sample_empty_corpus(spark, tmp_path):
    sf = str(tmp_path / "empty_docs")
    docs = spark.createDataFrame([], "doc_id long, lang string, text string, source string")
    _write(docs, os.path.join(sf, "documents.parquet"))
    out = QUERIES["stratified_sample_balanced"](spark, sf)
    assert out.count() == 0
    assert out.columns == ["doc_id", "lang"]


@pytest.mark.full_tier  # r14 smoke split (see conftest)
def test_trade_reachability_empty_graph(spark, tmp_path):
    sf = str(tmp_path / "empty_trade")
    _write(
        spark.createDataFrame(
            [], "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double"
        ),
        os.path.join(sf, "lineitem.parquet"),
    )
    _write(
        spark.createDataFrame([], "o_orderkey long, o_custkey long"),
        os.path.join(sf, "orders.parquet"),
    )
    _write(
        spark.createDataFrame([], "c_custkey long, c_nationkey int"),
        os.path.join(sf, "customer.parquet"),
    )
    _write(
        spark.createDataFrame([], "s_suppkey long, s_nationkey int"),
        os.path.join(sf, "supplier.parquet"),
    )
    out = QUERIES["trade_reachability_hops"](spark, sf)
    assert out.count() == 0
    assert out.columns == ["nationkey", "hops"]


# ---------------------------------------------------------------------------
# Independent-reference golden tests for the round-8 operators (the
# test_roundseven_golden.py philosophy: the DuckDB oracle shares each
# query's formula by construction, so recompute the semantics with plain
# python/pandas at sf0.001 and compare).
# ---------------------------------------------------------------------------
import math

import pandas as pd

from quantitative_database_and_visualization_platform_spark.factors.panel import daily_bars
from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _r6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000.0


def _lb(v: int) -> int:
    if v < 8:
        return v
    k = v.bit_length() - 1
    return (v >> (k - 3)) << (k - 3)


def test_quantile_sketch_matches_python_binning(spark):
    o = load_table(spark, SF, "orders").toPandas()
    vals = [int(round(p * 100)) for p in o["o_totalprice"]]
    from collections import Counter

    counts = Counter(_lb(v) for v in vals)
    n = len(vals)
    cum, cum_by_lb = 0, {}
    for lb in sorted(counts):
        cum += counts[lb]
        cum_by_lb[lb] = cum
    got = {r["q"]: r for r in QUERIES["quantile_sketch_order_values"](spark, SF).collect()}
    assert set(got) == {0.25, 0.5, 0.75, 0.9, 0.99}
    for qpct in (25, 50, 75, 90, 99):
        est_lb = min(lb for lb, c in cum_by_lb.items() if 100 * c >= qpct * n)
        r = got[qpct / 100.0]
        assert r["est_value"] == est_lb / 100.0
        assert r["n_le"] == cum_by_lb[est_lb]
        assert r["q_achieved"] == _r6(cum_by_lb[est_lb] / n)
        # the sketch contract: achieved rank never undershoots the request
        assert r["q_achieved"] >= qpct / 100.0 - 1e-9
        # and the value error is bounded by one bucket (1/8 = 12.5% relative)
        exact = sorted(vals)[max(0, math.ceil(qpct * n / 100) - 1)]
        assert est_lb <= exact and exact <= est_lb * (1 + 1 / 8) + 7


def test_purged_kfold_matches_python_geometry(spark):
    got = {
        r["fold_id"]: r for r in QUERIES["purged_kfold_splits"](spark, SF).collect()
    }
    # recompute geometry from the day count alone
    bars = daily_bars(spark, SF).toPandas()
    days = sorted(bars["d"].unique())[1:]  # first day has no return
    t, k, e = len(days), 5, 2
    assert set(got) == set(range(k))
    for f in range(k):
        lo = (f * t + k - 1) // k
        hi = ((f + 1) * t + k - 1) // k - 1
        r = got[f]
        assert r["n_test"] == hi - lo + 1
        assert r["test_start"] == days[lo] and r["test_end"] == days[hi]
        n_purged = 1 if lo >= 1 else 0
        n_embargo = min(e, t - 1 - hi)
        assert r["n_purged"] == n_purged
        assert r["n_embargo"] == n_embargo
        assert r["n_train"] == t - r["n_test"] - n_purged - n_embargo
        # leakage guard: train never touches the purge/embargo halo
        assert r["n_train"] + r["n_test"] < t or (n_purged + n_embargo) == 0


def test_distinctive_tokens_matches_python_logodds(spark):
    docs = load_table(spark, SF, "documents").toPandas()
    from collections import Counter, defaultdict

    st: dict = defaultdict(Counter)
    for r in docs.itertuples():
        toks = " ".join(str(r.text).split()).lower().split(" ")
        st[r.source].update(toks)
    gt: Counter = Counter()
    for c in st.values():
        gt.update(c)
    n = sum(gt.values())
    mu = 100.0
    want = {}
    for src, cnt in st.items():
        n_i = sum(cnt.values())
        scored = []
        for tk, y in cnt.items():
            a = mu * gt[tk] / n
            ry, rn = gt[tk] - y, n - n_i
            delta = math.log((y + a) / (n_i + mu - y - a)) - math.log(
                (ry + a) / (rn + mu - ry - a)
            )
            z = delta / math.sqrt(1.0 / (y + a) + 1.0 / (ry + a))
            z9 = math.floor(z * 1_000_000_000 + 0.5) / 1_000_000_000.0
            scored.append((-z9, tk, y))
        scored.sort()
        for rank, (negz, tk, y) in enumerate(scored[:5], start=1):
            want[(src, rank)] = (tk, y, _r6(-negz))
    got = {
        (r["source"], r["rank"]): (r["token"], r["n_occurrences"], r["log_odds_z"])
        for r in QUERIES["distinctive_tokens_by_source"](spark, SF).collect()
    }
    assert got == want


def test_order_priority_runs_matches_python_islands(spark):
    o = load_table(spark, SF, "orders").toPandas()
    o = o.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    want = set()
    for ck, grp in o.groupby("o_custkey"):
        run = []
        prev = None
        for r in grp.itertuples():
            if prev is not None and r.o_orderpriority != prev:
                if len(run) >= 3:
                    want.add(
                        (ck, prev, run[0].date(), run[-1].date(), len(run))
                    )
                run = []
            run.append(r.o_orderdate)
            prev = r.o_orderpriority
        if len(run) >= 3:
            want.add((ck, prev, run[0].date(), run[-1].date(), len(run)))
    got = {
        (
            r["custkey"],
            r["priority"],
            r["run_start"].date(),
            r["run_end"].date(),
            r["n_orders"],
        )
        for r in QUERIES["order_priority_runs"](spark, SF).collect()
    }
    assert got == want


def test_mutual_nearest_pairs_matches_numpy(spark):
    import numpy as np

    emb = load_table(spark, SF, "embeddings").toPandas()
    A = emb[(emb["label"] < 5) & (emb["vec_id"] % 5 == 0)]
    B = emb[emb["label"] >= 5]

    def c9(x, y):
        x, y = np.asarray(x, dtype=float), np.asarray(y, dtype=float)
        c = float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
        return math.floor(c * 1_000_000_000 + 0.5) / 1_000_000_000.0

    best_a = {}
    for ra in A.itertuples():
        scored = sorted(
            ((-c9(ra.embedding, rb.embedding), rb.vec_id) for rb in B.itertuples())
        )
        best_a[ra.vec_id] = (scored[0][1], -scored[0][0])
    best_b = {}
    for rb in B.itertuples():
        scored = sorted(
            ((-c9(ra.embedding, rb.embedding), ra.vec_id) for ra in A.itertuples())
        )
        best_b[rb.vec_id] = scored[0][1]
    want = {
        (a, b, _r6(c))
        for a, (b, c) in best_a.items()
        if best_b[b] == a
    }
    got = {
        (r["a_id"], r["b_id"], r["cos"])
        for r in QUERIES["mutual_nearest_pairs"](spark, SF).collect()
    }
    assert got == want
    assert got, "no mutual pair at this sf — test degenerate"


def test_calendar_ffill_matches_pandas_reindex(spark):
    bars = daily_bars(spark, SF).toPandas()[["code", "d", "close"]]
    dates = sorted(bars["d"].unique())
    want = {}
    for code, grp in bars.groupby("code"):
        known = dict(zip(grp["d"], grp["close"]))
        last_val, last_d = None, None
        for d in dates:
            if d in known:
                last_val, last_d = known[d], d
            elif last_val is not None:
                want[(code, d)] = (last_val, (d - last_d).days)
    got = {
        (r["code"], r["d"]): (r["filled_close"], r["staleness_days"])
        for r in QUERIES["calendar_ffill_panel"](spark, SF).collect()
    }
    assert set(got) == set(want)
    for k, (v, s) in want.items():
        gv, gs = got[k]
        assert gs == s, k
        assert abs(gv - v) < 1e-9, k


def test_quantile_sketch_merge_is_exact_bucket_sum(spark):
    """The merged (ALL) sketch must equal a sketch built directly over
    the concatenated data — mergeability is exact, not approximate."""
    docs = load_table(spark, SF, "documents").toPandas()
    from collections import Counter

    per_source: dict = {}
    for src, grp in docs[docs["n_chars"] > 0].groupby("source"):
        per_source[src] = Counter(_lb(int(v)) for v in grp["n_chars"])
    direct = Counter(_lb(int(v)) for v in docs[docs["n_chars"] > 0]["n_chars"])
    merged: Counter = Counter()
    for c in per_source.values():
        merged.update(c)
    assert merged == direct  # bucket-count merge == direct build

    got = {
        (r["scope"], r["q"]): (r["est_chars"], r["q_achieved"])
        for r in QUERIES["quantile_sketch_doclen_by_source"](spark, SF).collect()
    }
    scopes = set(per_source) | {"ALL"}
    assert {s for s, _ in got} == scopes
    for scope in scopes:
        counts = direct if scope == "ALL" else per_source[scope]
        n = sum(counts.values())
        cum, cum_by_lb = 0, {}
        for lb in sorted(counts):
            cum += counts[lb]
            cum_by_lb[lb] = cum
        for qpct in (50, 90):
            est = min(lb for lb, c in cum_by_lb.items() if 100 * c >= qpct * n)
            e, qa = got[(scope, qpct / 100.0)]
            assert e == est, (scope, qpct)
            assert qa == _r6(cum_by_lb[est] / n), (scope, qpct)
