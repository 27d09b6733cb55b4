"""Mirror of the driver's correctness gate: every registered query must
match its DuckDB oracle on row count, schema, and values (SURVEY.md §5.1).

Runs at sf0.01 — the driver's gate scale — so data-dependent failures
(e.g. a zero-variance rolling window that sf0.001 happens not to contain)
surface here first. Override with SPARK_GRAFT_TEST_SF=/root/testdata/sf0.001
for a faster smoke loop.
"""

from __future__ import annotations

import os

import pytest

from quantitative_database_and_visualization_platform_spark.plans import ORACLES, QUERIES
from quantitative_database_and_visualization_platform_spark.plans.oracle_check import check_query

SF_TEST = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")

# Smoke-tier parity subset (r14 split, see conftest): one query per
# operator family, biased to the paths the optimization rounds touch
# (shared bars/IVF/shingle leaves, the alpha build, the ntile machinery,
# graph persists). The FULL 293-query sweep runs with
# SPARK_GRAFT_FULL_TESTS=1 — and the driver's own gate hash-verifies the
# 50-query GATE_FIRST window on every round regardless.
SMOKE_PARITY = {
    # relational / scan / longtail
    "pricing_summary", "point_lookup", "asof_join_latest_order",
    "cube_nation_segment", "scd2_history_build", "data_quality_checks",
    "rfm_customer_scores", "snapshot_diff_orders", "merge_upsert_orders",
    # window / session / calendar
    "sessionization", "sliding_window_stats", "rolling_corr_cov",
    "event_path_trigrams",
    # bars consumers (shared leaf) + factor + backtest
    "factor_momentum", "event_study_car", "kline_pattern_screen",
    "ma_crossover_signals", "hurst_rs_exponent",
    # cross-section / IC / alpha (alpha101_a pays the build — the r14
    # change — and value-hashes a quarter of the 101 columns)
    "cross_section_ops", "rank_ic_matrix", "alpha101_a",
    # dedup / similarity (shingle leaf, spans, simhash, containment)
    "dedup_minhash_lsh", "dedup_simhash", "repeated_span_pairs",
    "dedup_containment", "exact_substring_dedup",
    # embeddings (IVF leaf, SRP, dbscan, silhouette)
    "embedding_ann_ivf", "semdedup_prune", "embedding_dbscan_core",
    "embedding_silhouette", "mutual_nearest_pairs_ann",
    # text quality / sketches / pipeline
    "text_tfidf_topk", "char_entropy_quality", "repetition_quality",
    "hll_distinct_by_source", "bloom_decontamination", "dsir_importance",
    "pipeline_retention_funnel",
    # sampling / splits / graph
    "stratified_sample_balanced", "walkforward_splits",
    "pagerank_nation_trade", "nation_trade_triangles",
}


@pytest.mark.parametrize(
    "name",
    [
        n if n in SMOKE_PARITY else pytest.param(n, marks=pytest.mark.full_tier)
        for n in sorted(QUERIES)
    ],
)
def test_query_matches_oracle(spark, name):
    problems = check_query(spark, SF_TEST, name)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_every_query_has_oracle_or_is_flagged():
    missing = sorted(set(QUERIES) - set(ORACLES))
    # rows-only at the driver gate is allowed ONLY for queries whose
    # full-width oracle cannot survive a default-config DuckDB (the
    # vm.max_map_count failure that emptied CORRECTNESS_r03); their value
    # parity is enforced below via PYTEST_ONLY_ORACLES instead
    allowed_rows_only = {"alpha101_subset", "alpha_ic_scan"}
    assert set(missing) <= allowed_rows_only, f"queries without oracle: {missing}"


@pytest.mark.full_tier  # ~80 s of DuckDB full-width alpha chains
@pytest.mark.parametrize("name", ["alpha101_subset", "alpha_ic_scan"])
def test_full_width_alpha_oracles(spark, name):
    """The full 101-column twins, driver-excluded but still enforced here
    (run_oracle's mitigated config: 16 threads + spill dir)."""
    from quantitative_database_and_visualization_platform_spark.plans.alpha_queries import (
        PYTEST_ONLY_ORACLES,
    )
    from quantitative_database_and_visualization_platform_spark.plans.oracle_check import (
        compare,
        run_oracle,
    )
    from quantitative_database_and_visualization_platform_spark.session import release_managed

    try:
        sdf = QUERIES[name](spark, SF_TEST).toArrow()
    finally:
        release_managed()
    odf = run_oracle(SF_TEST, PYTEST_ONLY_ORACLES[name])
    problems = compare(sdf, odf)
    assert not problems, f"{name}: " + "; ".join(problems)


# smoke tier keeps the two worst-case members (alpha101_c carries the
# peak mmap count of the alpha101 parts, alpha_ic_gate of the IC family);
# the other six run in the full tier — the budget only moves when the
# alpha oracles themselves change, which optimization rounds freeze.
_GATE_SURVIVE_SMOKE = {"alpha101_c", "alpha_ic_gate"}


@pytest.mark.parametrize(
    "name",
    [
        n if n in _GATE_SURVIVE_SMOKE else pytest.param(n, marks=pytest.mark.full_tier)
        for n in sorted(n for n in ORACLES if n.startswith(("alpha101_", "alpha_ic_")))
    ],
)
def test_gate_oracle_survives_default_duckdb(name):
    """Regression test for the empty round-3 gate: every alpha-family
    oracle handed to the driver must complete in a DuckDB session with NO
    settings applied (default threads / memory / no spill dir) — the
    configuration the driver's checker actually uses. Runs in a
    subprocess so an allocator blow-up cannot poison this process.

    Also asserts the peak memory-mapping count stays under 80% of the
    kernel's vm.max_map_count (65530): the round-3 failure mode was mmap
    exhaustion reported as a spurious DuckDB OutOfMemory, and the margin
    should not silently erode as alphas are added to a part."""
    import subprocess
    import sys as _sys

    code = (
        "import sys, time, threading; sys.path.insert(0, {root!r})\n"
        "import duckdb\n"
        "from quantitative_database_and_visualization_platform_spark.plans import ORACLES\n"
        "from quantitative_database_and_visualization_platform_spark.sources.catalog import TABLES\n"
        "peak=[0]; done=[False]\n"
        "def mon():\n"
        "    while not done[0]:\n"
        "        peak[0]=max(peak[0],sum(1 for _ in open('/proc/self/maps'))); time.sleep(0.05)\n"
        "threading.Thread(target=mon,daemon=True).start()\n"
        "con = duckdb.connect()\n"
        "for t in TABLES:\n"
        "    con.execute(f\"CREATE VIEW {{t}} AS SELECT * FROM read_parquet('{sf}/{{t}}.parquet')\")\n"
        "r = con.execute(ORACLES[{name!r}]).arrow()\n"
        "done[0]=True; time.sleep(0.1)\n"
        "assert r.num_rows > 0\n"
        "print('PEAKMAPS', peak[0])\n"
    ).format(root="/root/repo", sf=SF_TEST, name=name)
    proc = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, f"{name} failed at default DuckDB config: {proc.stderr[-800:]}"
    peak = next(
        (int(ln.split()[1]) for ln in proc.stdout.splitlines() if ln.startswith("PEAKMAPS")), 0
    )
    assert peak < 52_000, f"{name}: peak mmap count {peak} is within 20% of vm.max_map_count"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0  # driver contract: entry() must produce rows
    assert "sector_name" in df.columns


def test_hostile_session_parity(spark):
    """Driver simulation: the driver builds its OWN SparkSession with
    unknown configs (round 3 shipped with a non-UTC TZ assumption bug
    class in mind). queries() wrappers must self-tune a hostile session:
    run the timestamp-sensitive queries through a newSession() with a
    non-UTC zone + ANSI on and compare against the oracle."""
    import __spark_entry__ as e
    from quantitative_database_and_visualization_platform_spark.plans import ORACLES
    from quantitative_database_and_visualization_platform_spark.plans.oracle_check import (
        compare,
        run_oracle,
    )

    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "America/New_York")
    hostile.conf.set("spark.sql.ansi.enabled", "true")
    qs, osql = e.queries(), e.oracle_sql()
    for name in ("tick_bars_minute", "latest_event_per_user", "sliding_window_stats",
                 "semi_join_pool_stats", "prev_day_change"):
        sdf = qs[name](hostile, SF_TEST).toArrow()
        odf = run_oracle(SF_TEST, osql[name])
        problems = compare(sdf, odf)
        assert not problems, f"{name} under hostile session: " + "; ".join(problems)


def test_cumulative_ops_rounds_the_half_way_ratio_alike(spark, tmp_path):
    """9.51 / 19.2 - 1 is -0.5046875 in shortest form: Spark's ROUND took
    it half-up to -0.504688 and DuckDB's ROUND to -0.504687 (one row of
    the perfbench generator's BASE_SEED=4 events). Both sides now round
    through round6/o_round6."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quantitative_database_and_visualization_platform_spark.plans.oracle_check import (
        compare,
    )

    t0 = datetime.datetime(2024, 1, 1, 4, 46, 25)
    pq.write_table(
        pa.table({
            "event_id": pa.array([64, 8312], pa.int64()),
            "ts": pa.array([t0, t0 + datetime.timedelta(days=24)], pa.timestamp("us")),
            "user_id": pa.array([49, 49], pa.int64()),
            "event_type": pa.array(["view", "error"], pa.string()),
            "value": pa.array([19.2, 9.51], pa.float64()),
            "props": pa.array(['{"k": 1}', '{"k": 77}'], pa.string()),
        }),
        tmp_path / "events.parquet",
    )
    sf = str(tmp_path)
    got = QUERIES["cumulative_ops"](spark, sf).toArrow()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
        want = con.execute(ORACLES["cumulative_ops"]).arrow()
    finally:
        con.close()
    assert not compare(got, want)
    norm = dict(zip(got.column("event_id").to_pylist(), got.column("norm_to_first").to_pylist()))
    assert norm == {64: 0.0, 8312: -0.504687}
