"""Prepared query entries (`plans.registry._prepared`): a registered
query's builder runs once per session, sf_dir and input signature; warm
calls re-execute the kept analyzed plan with their own QueryExecution."""

from __future__ import annotations

import sys
import uuid

from conftest import SF_SMOKE as SF
from conftest import throwaway_query
from perfbench.spans import JvmCounters
from quantitative_database_and_visualization_platform_spark.plans import QUERIES
from quantitative_database_and_visualization_platform_spark.session import (
    context_key,
    managed_persist,
    release_managed,
)
from quantitative_database_and_visualization_platform_spark.sources.catalog import (
    SHARED_TABLES,
    load_table,
)

QUERY_MIX = (
    "cube_nation_segment",
    "ts_rank_argmax_decay",
    "weekly_bars_rollup",
    "cross_section_ops",
    "rolling_beta_market",
    "text_analysis",
)


def _nations(spark, sf_dir):
    return load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")


def _rows(df) -> list:
    return sorted(df.collect())


def _warm(spark):
    # a cold load_table runs the parquet schema-inference job, and a
    # construction that ran a job is not kept
    load_table(spark, SF, "nation")


def test_builder_runs_once_over_three_calls(spark):
    _warm(spark)
    with throwaway_query(_nations) as (run, builds):
        got = [_rows(run(spark, SF)) for _ in range(3)]
        assert builds == [SF]
        assert got[0] == got[1] == got[2] == _rows(_nations(spark, SF))
        assert len(got[0]) > 0


def test_builder_runs_again_after_a_conf_change(spark):
    _warm(spark)
    zone = spark.conf.get("spark.sql.session.timeZone")
    with throwaway_query(_nations) as (run, builds):
        run(spark, SF)
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            run(spark, SF)
            run(spark, SF)
        finally:
            spark.conf.set("spark.sql.session.timeZone", zone)
        assert builds == [SF, SF]


def test_builder_runs_again_from_a_new_session(spark):
    _warm(spark)
    with throwaway_query(_nations) as (run, builds):
        run(spark, SF)
        other = spark.newSession()
        want = _rows(run(spark, SF))
        assert _rows(run(other, SF)) == want
        assert len(builds) == 2


def test_construction_that_ran_a_job_is_never_kept(spark):
    _warm(spark)

    def counts_first(spark, sf_dir):
        df = _nations(spark, sf_dir)
        return df.limit(df.count())

    with throwaway_query(counts_first) as (run, builds):
        for _ in range(3):
            run(spark, SF)
        assert len(builds) == 3


def test_construction_that_registered_a_managed_persist_is_never_kept(spark):
    _warm(spark)
    with throwaway_query(lambda s, sf: managed_persist(_nations(s, sf))) as (run, builds):
        try:
            for _ in range(3):
                run(spark, SF).count()
                release_managed()
        finally:
            release_managed()
        assert len(builds) == 3


def test_query_mix_runs_the_same_on_a_hit(spark):
    """A hit re-executes: the same jobs, stages and tasks as a fresh
    build, and the same rows."""
    counters = JvmCounters(spark)

    def run(df):
        group = f"prepared-{uuid.uuid4().hex[:8]}"
        spark.sparkContext.setJobGroup(group, group)
        try:
            table = df.toArrow()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            release_managed()
        return counters.job_stats(group), table.sort_by([(c, "ascending") for c in table.column_names])

    for name in QUERY_MIX:
        QUERIES[name](spark, SF)
        release_managed()
        QUERIES[name](spark, SF)  # a cold first call may run shared builds
        release_managed()
        assert (context_key(spark), "prepared", name, SF) in SHARED_TABLES, name
        fresh_stats, fresh = run(QUERIES[name].__wrapped__(spark, SF))
        hit_stats, hit = run(QUERIES[name](spark, SF))
        assert hit_stats == fresh_stats, name
        assert fresh_stats[0] >= 1, name
        assert hit.equals(fresh), name
        assert hit.num_rows > 0, name


def test_registered_queries_keep_their_defining_module():
    """`__module__` is what perfbench bills a query's exec time to and
    what the duplicate-registration guard names."""
    for name, run in QUERIES.items():
        module = sys.modules[run.__module__]
        assert run.__module__.startswith(
            "quantitative_database_and_visualization_platform_spark.plans."
        ), name
        assert run.__module__ == run.__wrapped__.__module__, name
        # module-level builders stay unwrapped (factory-made ones have no
        # module-level name)
        if "<locals>" not in run.__wrapped__.__qualname__:
            assert getattr(module, run.__wrapped__.__name__) is run.__wrapped__, name


_NTILE_PIN = "global_ntile persists one spark_partition_id materialization (correctness pin)"
_COLLECTS = "iterates in Python over collected counts or edges (runs jobs)"
_PAYS = "registers a managed_persist that measured faster than the persist-free query"

# Non-alpha queries that a prepared entry never keeps, and why: each one
# registers a managed_persist or runs a Spark job inside its construction,
# so every call rebuilds it.
NEVER_KEPT = {
    "histogram_equi_depth": _NTILE_PIN,
    "length_quality_grid": _NTILE_PIN,
    "nation_spend_quartiles": _NTILE_PIN,
    "rfm_customer_scores": _NTILE_PIN,
    "lm_perplexity_buckets": _NTILE_PIN,
    "trade_reachability_hops": _COLLECTS,
    "pagerank_nation_trade": _COLLECTS,
    "dedup_connected_components": _COLLECTS,
    "neardup_cluster_sizes": _COLLECTS,
    "neardup_canonical": _COLLECTS,
    "semdedup_prune": _COLLECTS,
    "bloom_decontamination": "collects the Bloom filter bitmap into a literal (runs jobs)",
    "dedup_simhash": _PAYS,
    "dedup_simhash_wide": _PAYS,
    "embedding_neardup": _PAYS,
    "repetition_quality": _PAYS,
    "exact_substring_dedup": _PAYS,
    "repeated_span_pairs": _PAYS,
    "dsir_importance": _PAYS,
    "source_overlap_matrix": _PAYS,
    "zipf_token_curve": _PAYS,
    "minhash_accuracy_audit": _PAYS,
    "vocab_coverage_curve": _PAYS,
    "hll_distinct_by_source": _PAYS,
    "bm25_topk": _PAYS,
    "mutual_nearest_pairs": _PAYS,
    "mutual_nearest_pairs_ann": _PAYS,
    "margin_scored_pairs": _PAYS,
    "margin_scored_pairs_ann": _PAYS,
    "boilerplate_segment_ratio": _PAYS,
    "embedding_dbscan_core": _PAYS,
    "embedding_dbscan_sized": _PAYS,
    "top_correlated_pairs": _PAYS,
    "cointegration_screen": _PAYS,
    "cointegration_screen_blocked": _PAYS,
}


def test_never_kept_census(spark):
    """Every non-alpha query is kept by its second construction unless
    NEVER_KEPT names it: a new persist or construction-time collect
    fails here, and so does a listed query that became keepable."""
    names = [n for n, q in QUERIES.items() if not q.__module__.endswith(".alpha_queries")]
    for _ in range(2):
        for name in names:
            try:
                QUERIES[name](spark, SF)
            finally:
                release_managed()
    key = context_key(spark)
    not_kept = {n for n in names if (key, "prepared", n, SF) not in SHARED_TABLES}
    assert not_kept - set(NEVER_KEPT) == set(), "newly never kept"
    assert set(NEVER_KEPT) - not_kept == set(), "now kept: drop from NEVER_KEPT"
