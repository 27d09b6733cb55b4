"""Round-14 optimization-round focused tests.

1. The alpha101 cache build reads a defaultParallelism-floored bars
   leaf, not the shared 4-partition `bars_table` leaf (r13 verdict item
   1, guide §2.2): with AQE off for the build, its pre-shuffle
   projection stages ride leaf parallelism, and cold fresh-JVM probes
   measured exec 81/83/157 s on the 4-partition leaf vs 58/60/63 s on
   the wide one. The values must stay bit-identical to the shared leaf
   (same `daily_bars` plan underneath) — pinned here, and by the
   alpha101_a-d oracle hashes at the gate.
"""

from __future__ import annotations

import os

import pytest

from quantitative_database_and_visualization_platform_spark.factors.panel import (
    _BAR_ROW_BYTES,
    bars_table,
    daily_bars,
)
from quantitative_database_and_visualization_platform_spark.session import (
    checkpoint_sized,
)

SF = "/root/testdata/sf0.001"
SF_BENCH = "/root/testdata/sf0.1"


def test_alpha_bars_input_keeps_build_parallelism(spark):
    """The exact input construction `_alpha_table` uses: floored at
    defaultParallelism, so checkpoint_sized must NOT coalesce it down to
    the small consumer floor, and its rows must equal the shared leaf's."""
    wide = checkpoint_sized(
        spark,
        daily_bars(spark, SF),
        _BAR_ROW_BYTES,
        floor=spark.sparkContext.defaultParallelism,
    )
    shared = bars_table(spark, SF)
    # floor=defaultParallelism means: never coalesce below what the
    # (AQE-off) build produced, bounded by parallelism — unlike the
    # 4-floor shared leaf, which at this scale collapses to 4
    assert wide.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    if spark.sparkContext.defaultParallelism > 4:
        assert shared.rdd.getNumPartitions() <= 4
    assert wide.exceptAll(shared).count() == 0
    assert shared.exceptAll(wide).count() == 0


# ---------------------------------------------------------------------------
# Pinned SortMergeJoin census (r13 verdict item 7): a checkpointed leaf
# is a LogicalRDD with no size statistics, so joins that previously
# broadcast on parquet-derived estimates can silently fall back to
# SortMergeJoin — the failure mode that cost backtest_turnover_cost two
# SMJs in r13 and was caught only by a one-off audit of all 586 plan
# files. This pins the census: exactly these queries carry exactly these
# deliberate SMJ counts at bench scale (corpus-sized post-aggregate
# relations under the BROADCAST_SAFE_DOCS shuffle/SMJ policy — 41 total
# across 25 queries, byte-stable r13→r14 across all 293 captured plans),
# and the r13-regressed leaf consumers stay SMJ-free. Any other query
# acquiring an SMJ fails the census the next time its family rep runs.
# No query is executed, but building a plan materializes the shared
# tables it reads (bars, shingles, IVF, n-gram pairs), so the census is
# not free. Pinned at sf0.1 (tools/capture_plans.py dumps the plans on
# demand), and skipped without it.
# ---------------------------------------------------------------------------
SMJ_PINNED = {
    "ann_recall_audit": 3,
    "dedup_incremental": 1,
    "embedding_cluster_profile": 1,
    "embedding_dbscan_core": 3,
    "embedding_dbscan_sized": 3,
    "embedding_rank_fusion": 1,
    "factor_value": 1,
    "full_outer_user_activity": 1,
    "hll_rolling_users_7d": 1,
    "margin_scored_pairs": 2,
    "margin_scored_pairs_ann": 2,
    "matryoshka_dim_audit": 3,
    "merge_upsert_orders": 1,
    "minhash_pr_audit": 1,
    "mutual_nearest_pairs": 1,
    "mutual_nearest_pairs_ann": 1,
    "nation_trade_triangles": 7,
    "neardup_canonical": 1,
    "neardup_threshold_sweep": 1,
    "order_priority_delay": 1,
    "sentiment_etl": 1,
    "snapshot_diff_orders": 1,
    "source_overlap_matrix": 1,
    "streaming_funnel_replay": 1,
    "t_closeness_report": 1,
}

# leaf consumers that MUST stay broadcast-only (the r13 regression class:
# backtest_turnover_cost fell 0→2 SMJ when the bars leaf replaced its
# parquet-estimated inputs, fixed with bounded-cardinality hints)
SMJ_ZERO_REPS = [
    "backtest_turnover_cost",
    "cointegration_screen",
    "top_correlated_pairs",
    "factor_momentum",
]


def _smj_count(spark, name: str) -> int:
    import re

    from quantitative_database_and_visualization_platform_spark.plans import QUERIES
    from quantitative_database_and_visualization_platform_spark.session import (
        release_managed,
    )

    try:
        df = QUERIES[name](spark, SF_BENCH)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        release_managed()
    return len(re.findall(r"\(\d+\) SortMergeJoin", plan))


needs_sf_bench = pytest.mark.skipif(
    not os.path.isdir(SF_BENCH), reason=f"SMJ census is pinned at {SF_BENCH}"
)


@needs_sf_bench
@pytest.mark.parametrize("name", sorted(SMJ_PINNED))
def test_smj_census_pinned(spark, name):
    assert _smj_count(spark, name) == SMJ_PINNED[name]


@needs_sf_bench
@pytest.mark.parametrize("name", SMJ_ZERO_REPS)
def test_leaf_consumers_stay_broadcast_only(spark, name):
    assert _smj_count(spark, name) == 0
