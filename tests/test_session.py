"""Sessions made by `session.get_spark`."""

from __future__ import annotations

from conftest import SF_SMOKE as SF
from perfbench.spans import JvmCounters
from quantitative_database_and_visualization_platform_spark.plans import QUERIES
from quantitative_database_and_visualization_platform_spark.session import release_managed

# Between them these queries compile more generated classes than Spark's
# default 100-entry class cache holds, so under that default every pass
# recompiled most of them (82-88 classes per pass).
WARM_SET = (
    "cube_nation_segment",
    "ts_rank_argmax_decay",
    "weekly_bars_rollup",
    "cross_section_ops",
    "rolling_beta_market",
    "text_analysis",
)

# Queries whose managed persists were dropped as not paying. With their
# persists, warm runs of join_skew_report, token_pmi_pairs and
# granger_causality_screen still compiled 2-8 classes (sf0.001, sf0.01).
DROPPED_PERSIST = (
    "bloom_decontamination",
    "chunk_level_dedup",
    "comoment_coskew",
    "cusum_break_stat",
    "dedup_containment",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "doc_chunking_overlap",
    "event_path_trigrams",
    "granger_causality_screen",
    "join_skew_report",
    "minhash_pr_audit",
    "pq_quantization_audit",
    "rake_keywords",
    "rare_token_ratio",
    "semibeta_downside",
    "streaming_funnel_replay",
    "token_pmi_pairs",
    "top_correlated_pairs_blocked",
    "updown_capture",
    "winnowing_fingerprints",
)


def test_warm_pass_compiles_no_generated_class(spark):
    """A session re-running the same queries reuses their compiled code:
    the second pass over the set compiles no class."""
    counters = JvmCounters(spark)

    def one_pass() -> int:
        _, before = counters.codegen()
        for name in WARM_SET + DROPPED_PERSIST:
            QUERIES[name](spark, SF).write.format("noop").mode("overwrite").save()
            release_managed()
        return counters.codegen()[1] - before

    one_pass()
    assert one_pass() == 0
