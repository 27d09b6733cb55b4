"""Physical-plan regression tests: the scale properties the engine
promises (filter pushdown into the parquet scan, column pruning, no
forced broadcast of scaling tables, partition-pruned lakehouse reads)
asserted against .explain output so they cannot silently regress."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushes_to_scan(spark):
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan[:2000]


def test_column_pruning_reaches_scan(spark):
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    # global_market_stats touches 3 of 11 lineitem columns; the scan
    # schema must not include untouched ones
    plan = _plan(QUERIES["global_market_stats"](spark, SF))
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read, plan[:2000]
    assert "l_quantity" not in read[0] and "l_shipdate" not in read[0], read[0]


def test_no_forced_broadcast_of_scaling_tables(spark):
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    # the logical plan must not carry broadcast HINTS for orders/customer/
    # part (AQE may still choose broadcast at runtime from actual sizes —
    # that is the point: a hint would override size information at 100 TB)
    df = QUERIES["screener_wide_join"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    hints = re.findall(r"ResolvedHint.*", logical)
    # exactly the two fixed-size dims are hinted
    assert len(hints) <= 2, hints


def test_alpha_dag_exchange_budget(spark):
    """The 36-alpha P1–P5 DAG must stay at one shuffle per axis
    alternation: bars build (≤3) + code→date→code→date→code (4). A
    regression here usually means a cross-sectional op re-introduced a
    per-column partitioning (e.g. rank tie-counts partitioned by value)."""
    import re

    from quantitative_database_and_visualization_platform_spark.factors.alpha101 import with_alphas
    from quantitative_database_and_visualization_platform_spark.factors.panel import daily_bars

    # build the raw DAG directly — the registered query eagerly
    # materializes the session cache, which would swap the plan under
    # inspection for an InMemoryTableScan and blind this test
    df = with_alphas(daily_bars(spark, SF))
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert exchanges <= 8, f"{exchanges} exchanges in alpha DAG:\n{plan[:2000]}"


def test_write_partitioned_prunes(spark):
    from quantitative_database_and_visualization_platform_spark.sources.catalog import (
        load_table,
        write_partitioned,
    )

    tmp = tempfile.mkdtemp(prefix="qdvp_layout_")
    try:
        ev = load_table(spark, SF, "events").withColumn("day", F.to_date("ts"))
        write_partitioned(ev, f"{tmp}/events", ["day"], ["user_id", "ts"])
        back = spark.read.parquet(f"{tmp}/events")
        one_day = back.filter(F.col("day") == "2024-01-02")
        plan = _plan(one_day)
        assert "PartitionFilters" in plan
        # pruned read touches only that day's files
        files = one_day.select(F.input_file_name()).distinct().collect()
        assert all("day=2024-01-02" in r[0] for r in files)
        assert len(files) >= 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_asof_join_shuffle_budget(spark):
    """The as-of join is the union-merge form: right-side pre-aggregation
    (1 exchange) + one key-axis window sort (1 exchange). More exchanges
    means someone reintroduced a join-based form."""
    import re

    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["asof_join_latest_order"](spark, SF))
    exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert exchanges <= 3, f"{exchanges} exchanges in as-of join:\n{plan[:2000]}"
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_fuzzy_join_blocks_on_equi_key(spark):
    """Every join in the levenshtein query must be a hash/equi join —
    a bare inequality join would plan BroadcastNestedLoopJoin — and the
    expensive DP must run on the distinct-name domain, i.e. the plan
    contains an aggregate (the DISTINCT) below the levenshtein
    projection, and the name-pair join is keyed on the length bucket."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["fuzzy_join_part_names"](spark, SF))
    assert "NestedLoop" not in plan, plan[:2000]
    assert "Cartesian" not in plan, plan[:2000]
    lev_join = next(
        (ln for ln in plan.splitlines() if "Join" in ln and "blk" in ln), ""
    )
    assert lev_join, f"no length-bucket-keyed join in plan:\n{plan[:3000]}"
    assert "HashAggregate" in plan, "distinct-name aggregate missing below the DP"


def test_fuzzy_join_dp_probes_independent_of_table_size(spark):
    """Scale guard for the round-4 finding (brand-only blocking grew DP
    probes O(n²/25)): the levenshtein DP now runs on DISTINCT names, so
    the probe count must track the vocabulary, not the row count — equal
    across a 10× table-size step (same generator vocabulary), and orders
    of magnitude below the row-level brand-blocked candidate count."""
    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table

    def probes(sf_dir: str) -> tuple[int, float]:
        part = load_table(spark, sf_dir, "part").select("p_name", "p_brand")
        names = part.select(F.col("p_name").alias("x")).distinct()
        blk = F.floor(F.length("x") / 4)
        nx = names.select("x", blk.alias("blk"))
        ny = names.select(
            F.col("x").alias("y"), F.explode(F.array(blk - 1, blk, blk + 1)).alias("blk")
        )
        n_probes = nx.join(ny, "blk").count()
        row_pairs = (
            part.groupBy("p_brand")
            .count()
            .selectExpr("sum(count * (count - 1) / 2) AS n")
            .collect()[0]["n"]
        )
        return n_probes, row_pairs

    p_small, _ = probes("/root/testdata/sf0.001")
    p_big, row_pairs = probes("/root/testdata/sf0.01")
    assert p_big <= p_small * 1.2, f"DP probes grew with table size: {p_small} -> {p_big}"
    assert p_big < 0.2 * row_pairs, f"probes {p_big} not ≪ row-level candidates {row_pairs}"


def test_decontamination_gram_join_is_hash_join(spark):
    """The train↔eval gram join must be an equi (hash) join on the gram —
    never a nested loop — and the whole plan must carry no cartesian
    product; at production scale the eval side is benchmark-sized and
    AQE broadcasts it."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["decontamination_ngram"](spark, SF))
    assert "NestedLoop" not in plan, plan[:2000]
    assert "Cartesian" not in plan, plan[:2000]
    assert "HashJoin [g#" in plan or "HashJoin[g#" in plan.replace(" ", ""), (
        f"gram join not keyed on g:\n{plan[:3000]}"
    )


def test_doc_packing_windows_per_shard(spark):
    """Packing must cumsum PER SOURCE SHARD — a global (unpartitioned)
    window would serialize the whole corpus through one task."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["doc_packing"](spark, SF))
    assert "windowspecdefinition(source#" in plan, plan[:3000]
    assert "windowspecdefinition(doc_id" not in plan
    # no empty partition spec: "windowspecdefinition(<order> ASC" directly
    # (no partition column list) is the global-window signature
    import re

    assert not re.search(r"windowspecdefinition\(\s*[a-z_0-9#]+ ASC", plan), (
        f"global window detected:\n{plan[:3000]}"
    )


def test_stratified_sample_windows_per_stratum(spark):
    """The md5 rank must be partitioned by lang (stratum), and the only
    nested-loop join allowed is the 1-row scalar (min stratum count)
    broadcast — the scalar-subquery pattern."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["stratified_sample_balanced"](spark, SF))
    assert "windowspecdefinition(lang#" in plan, plan[:3000]
    # a BroadcastNestedLoopJoin is acceptable ONLY as the scalar cross
    # join (IdentityBroadcastMode of a 1-row aggregate)
    if "BroadcastNestedLoopJoin" in plan:
        assert "IdentityBroadcastMode" in plan, plan[:3000]


def test_doc_chunking_is_shuffle_free(spark):
    """doc_chunking_overlap claims pure map work — the physical plan must
    contain NO Exchange at all (the 100 TB cost model depends on it)."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["doc_chunking_overlap"](spark, SF))
    assert "Exchange" not in plan, plan[:3000]


def test_session_window_single_exchange(spark):
    """Native session windows: one shuffle on the grouping key (plus
    AQE reads), never a self-join or second exchange."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["session_window_stats"](spark, SF))
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex == 1, f"{n_ex} hash exchanges\n{plan[:3000]}"
    assert "Join" not in plan, plan[:3000]


def test_cluster_sample_broadcasts_centroids_only(spark):
    """cluster_balanced_sample joins the corpus against centroid tables
    that are fixed-size (8 rows): every join must be a broadcast join —
    a sort-merge join would shuffle the corpus per assignment pass."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["cluster_balanced_sample"](spark, SF))
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "ShuffledHashJoin" not in plan, plan[:3000]


def test_lm_perplexity_joins_corpus_stream_once(spark):
    """The corpus bigram stream must hit exactly ONE shuffle join (on the
    bigram key, against the vocabulary-sized LM table); the unigram and
    totals lookups ride the vocabulary-sized side. A second corpus-sized
    join is the regression this guards against."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["lm_perplexity_buckets"](spark, SF))
    assert "CartesianProduct" not in plan, plan[:3000]
    # sort-merge joins appear only for corpus-stream-sized relations; the
    # bigram join + final lang join are the allowed two
    n_smj = plan.count("SortMergeJoin")
    assert n_smj <= 2, f"{n_smj} sort-merge joins\n{plan[:3000]}"


def test_bloom_probe_is_literal_bitmap_expression(spark):
    """The Bloom probe must be a constant-folded bitmap literal tested
    with per-row expressions (element_at on an array literal) — no probe
    join, no CreateArray per row; the only gram-keyed join left is the
    exact scorer. No nested loop, no cartesian anywhere."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["bloom_decontamination"](spark, SF))
    assert "NestedLoop" not in plan, plan[:3000]
    assert "Cartesian" not in plan, plan[:3000]
    assert "element_at" in plan, f"bitmap probe expression missing:\n{plan[:3000]}"
    assert "CreateArray" not in plan, (
        f"bitmap literal not constant-folded (per-row array build):\n{plan[:3000]}"
    )
    # exactly one gram-keyed join remains: the exact scorer
    flat = plan.replace(" ", "")
    assert flat.count("HashJoin[g#") + flat.count("SortMergeJoin[g#") >= 1, plan[:3000]


def test_hll_register_agg_is_partial(spark):
    """The HLL register build must map-side combine (partial_max over
    rho) BEFORE the exchange — the shuffle carries (group x 256) cells,
    never raw tokens."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["hll_distinct_by_source"](spark, SF))
    assert "partial_max" in plan, f"no map-side combine on register cells:\n{plan[:3000]}"


def test_bm25_prunes_terms_before_aggregation(spark):
    """The term pruning must happen INSIDE the token array (filter
    lambda under the Generate input) so the explode materializes only
    matching tokens — never one row per corpus token; and the final
    top-k must be a TakeOrderedAndProject, not a global sort."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["bm25_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    flat = plan.replace("\n", " ")
    assert "Generate explode(filter(" in flat, (
        f"explode input is not the term-filtered array:\n{plan[:3000]}"
    )


def test_rank_fusion_channels_end_in_topk(spark):
    """Both retrieval channels must end in TakeOrderedAndProject before
    the rank windows, so the unpartitioned row_number only ever sees
    <= 20 rows."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["embedding_rank_fusion"](spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 3, (
        f"expected topk in both channels + final fusion:\n{plan[:3000]}"
    )


def test_interval_join_hashes_on_user(spark):
    """The interval join must key the hash/sort-merge join on user_id
    with the time range as a residual filter — never a nested loop over
    the time condition."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["interval_join_click_purchase"](spark, SF))
    assert "NestedLoop" not in plan, plan[:3000]
    assert "Cartesian" not in plan, plan[:3000]
    assert "user_id" in plan and ("SortMergeJoin" in plan or "HashJoin" in plan), plan[:3000]


def test_market_share_no_forced_broadcast_of_scaling_sides(spark):
    """The Q8-shaped join may hint-broadcast only the fixed-cardinality
    dim chains (nation/region collapse + supplier map + customer pool +
    the per-year totals); orders and lineitem must reach the optimizer
    unhinted so AQE sizes their join at runtime."""
    import re

    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    logical = (
        QUERIES["market_share_by_nation"](spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # no hint may sit directly over a scaling-table scan: every
    # ResolvedHint in this plan wraps a dim-chain/aggregate subtree
    assert "lineitem" not in "".join(re.findall(r"ResolvedHint.*", logical))
    # the fact side must enter a join without a broadcast hint of its own
    assert logical.count("ResolvedHint") <= 4, logical[:3000]


def test_rare_token_topk_is_take_ordered(spark):
    """The top-100 vocabulary head must compile to TakeOrderedAndProject
    (per-partition top-k), never a single-partition global row_number
    sort — the difference between a tiny exchange and dragging the whole
    vocabulary through one task at 100 TB."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["rare_token_ratio"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_pagerank_iterations_run_on_checkpointed_leaf(spark):
    """The 10 PageRank iterations must replan on the nation²-bounded
    localCheckpoint leaf, not re-analyze the fact-sized edge aggregation
    — the executed plan of the returned rank relation may not scan
    lineitem at all."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["pagerank_nation_trade"](spark, SF))
    assert "lineitem" not in plan, plan[:3000]


def test_sole_problem_supplier_has_no_expand(spark):
    """The per-order distinct counts must plan as a two-level aggregate,
    never as multiple countDistinct()s — those compile to an Expand that
    triples the fact scan (measured 55 s vs 14.5 s at the 100× sweep)."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["sole_problem_supplier"](spark, SF))
    assert "Expand" not in plan, plan[:3000]


def test_small_qty_avg_join_is_broadcast(spark):
    """The decorrelated per-part average must come back onto the fact
    scan as a broadcast join (part-cardinality build side), never a
    fact-vs-fact sort-merge."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    df = QUERIES["small_qty_order_revenue"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_curriculum_cumsum_window_is_source_partitioned(spark):
    """The running token sum must be a source-keyed window — an
    unpartitioned global cumsum would drag the whole corpus through a
    single task at 100 TB."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    logical = (
        QUERIES["curriculum_phases"](spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", logical)
    assert specs, logical[:2000]
    assert all("source" in sp for sp in specs), specs


# ---------------------------------------------------------------------------
# Repo-wide red line (r8, VERDICT r7 item 2): no unpartitioned window
# function may run over a data-cardinality relation. An empty PARTITION BY
# spec plans WindowExec with an Exchange SinglePartition child — ALL rows
# of the input move to one task. Spark's unpartitioned `orderBy()` SORTS
# are range-partitioned; unpartitioned WINDOW functions are not (the r7
# histogram_equi_depth finding). Exact global quantiles now go through
# operators.relational.global_ntile (range-partitioned two-pass rank).
#
# The allow-list enumerates every query whose empty-spec window is
# documented (inline, at the window's construction site) to run over a
# BOUNDED relation — calendar-/day-grain series, k-bounded top-k lists,
# digit-/weekday-sized groupings — never over fact- or entity-cardinality
# data. Adding a name here requires that inline bound comment.
# ---------------------------------------------------------------------------
_GLOBAL_WINDOW_BOUNDED_OK = {
    "panel_gap_report",  # calendar-day grain trading-date spine
    "embedding_rank_fusion",  # k-bounded fused candidate lists
    "hll_cumulative_users",  # day-grain register rollup (days x 256)
    "walkforward_splits",  # split-count-bounded spine (days / step)
    "purged_kfold_splits",  # calendar-day grain spine (same shape)
    "prev_day_change",  # trading-calendar date spine
    "benford_first_digit",  # 9 leading digits
    "kaplan_meier_ship_times",  # horizon-bounded day grain (<= 366 rows)
    "rank_ic_daily",  # day-grain IC series
    "backtest_decile_longshort",  # day-grain long-short return series
    "market_index_history",  # day-grain index series
    "backtest_turnover_cost",  # day-grain portfolio series
    "pairs_spread_zscore",  # day-grain single-pair spread series
    "seasonal_dow_volume",  # 7 weekdays
    "inverse_vol_portfolio",  # day-grain portfolio log-return series
    "fama_macbeth_nw",  # day-grain slope series (FM second stage)
}


def _empty_spec_windows(df) -> list[str]:
    out = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        n = stack.pop()
        if n.getClass().getSimpleName() == "Window" and n.partitionSpec().isEmpty():
            out.append(n.toString().splitlines()[0][:160])
        cs = n.children()
        for i in range(cs.size()):
            stack.append(cs.apply(i))
    return out


def test_no_unpartitioned_window_outside_bounded_allowlist(spark):
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    offenders: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        wins = _empty_spec_windows(fn(spark, SF))
        if wins and name not in _GLOBAL_WINDOW_BOUNDED_OK:
            offenders[name] = wins
    assert not offenders, (
        "unpartitioned window over a (potentially) data-sized relation — "
        f"use operators.relational.global_ntile or add a documented bound: {offenders}"
    )
    # the allow-list must not go stale: every listed name still exists
    stale = _GLOBAL_WINDOW_BOUNDED_OK - set(QUERIES)
    assert not stale, f"allow-listed queries no longer registered: {stale}"


def test_window_funnel_is_single_scan(spark):
    """The r9 rewrite collapsed the level-0 user base into the one
    conditional-collect aggregate; a second events scan (the old
    distinct-users + left-join shape) must not creep back."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["window_funnel_steps"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_mutual_nn_ann_candidates_are_bucket_equijoin(spark):
    """The production mutual-NN form must generate candidates with an
    equi-join on the SRP bucket key — a cartesian/broadcast-nested-loop
    product would mean the bucketing silently stopped keying the join."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES
    from quantitative_database_and_visualization_platform_spark.session import release_managed

    try:
        plan = _plan(QUERIES["mutual_nearest_pairs_ann"](spark, SF))
    finally:
        release_managed()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        plan[:3000]
    )
    assert "bucket" in plan, plan[:3000]


def test_dedup_incremental_probe_side_is_batch_filtered(spark):
    """The incremental-dedup candidate join must filter the probe side
    to the batch (doc_id % 7 = 0) BEFORE the band join — the whole point
    is never joining corpus x corpus."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES
    from quantitative_database_and_visualization_platform_spark.session import release_managed

    try:
        plan = _plan(QUERIES["dedup_incremental"](spark, SF))
    finally:
        release_managed()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        plan[:3000]
    )
    # the % 7 batch predicate must appear as a filter in the plan (on
    # the probe side, upstream of the band join)
    assert "% 7) = 0" in plan, plan[:3000]


def test_margin_ann_candidates_are_bucket_equijoin(spark):
    """Round-10: the margin-mining production form must generate its
    scoring domain with an equi-join on the SRP bucket key, same
    contract as mutual_nearest_pairs_ann — a cartesian/broadcast-nested-
    loop product would mean the last brute-force scale-killer is back."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES
    from quantitative_database_and_visualization_platform_spark.session import release_managed

    try:
        plan = _plan(QUERIES["margin_scored_pairs_ann"](spark, SF))
    finally:
        release_managed()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        plan[:3000]
    )
    assert "bucket" in plan, plan[:3000]


def test_boilerplate_df_join_debroadcasts_past_threshold(spark, monkeypatch):
    """The segment-df relation is corpus-sized (the estimate-blind
    aggregate class from the r9 100x audit): past BROADCAST_SAFE_DOCS
    the join must be a shuffle join, never a broadcast of the df side.
    The threshold is monkeypatched to 0 so the contract is assertable at
    test scale; the builder itself runs, since a plan kept by an earlier
    call would not see the patched constant."""
    from quantitative_database_and_visualization_platform_spark.pipeline import dedup as dd
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES
    from quantitative_database_and_visualization_platform_spark.session import release_managed

    monkeypatch.setattr(dd, "BROADCAST_SAFE_DOCS", 0)
    try:
        plan = _plan(QUERIES["boilerplate_segment_ratio"].__wrapped__(spark, SF))
    finally:
        release_managed()
    assert "ShuffledHashJoin [seg" in plan, plan[:3000]
    assert "BroadcastHashJoin [seg" not in plan, plan[:3000]


def test_cointegration_screen_broadcasts_only_bounded_pair_list(spark):
    """Everything after the candidate scan is keyed by the 20-row pair
    list: those joins must broadcast (pair list and fit coefficients),
    and no cartesian/nested-loop product may appear anywhere."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES
    from quantitative_database_and_visualization_platform_spark.session import release_managed

    try:
        plan = _plan(QUERIES["cointegration_screen"](spark, SF))
    finally:
        release_managed()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        plan[:3000]
    )
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_new_window_family_has_no_joins_or_python(spark):
    """ewma/corwin-schultz/ulcer/vpin are single-relation window+agg
    passes: any Join or Python eval node in the plan means the shape
    regressed."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    for name in (
        "ewma_vol_riskmetrics",
        "corwin_schultz_spread",
        "ulcer_index_martin",
        "vpin_flow_toxicity",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "Join" not in plan, (name, plan[:3000])
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, (
            name,
            plan[:2000],
        )


def test_blocked_pair_screens_join_on_block_key(spark):
    """The blocked production twins' candidate self-join must carry the
    block key as a HASH-JOIN EQUI KEY (not a post-join filter): a
    refactor that drops it silently reverts the scan to universe².
    The physical join keys must include both the date and the blk
    column on each side."""
    import re

    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    for name in [
        "top_correlated_pairs_blocked",
        "cointegration_screen_blocked",
        "granger_causality_screen_blocked",
    ]:
        plan = _plan(QUERIES[name](spark, SF))
        joins = [
            line
            for line in plan.splitlines()
            if re.search(r"(HashJoin|SortMergeJoin) \[.*blk", line)
        ]
        assert joins, (name, plan[:3000])
        # the blk key must be on BOTH sides of the equi-key lists
        assert any(
            "blk" in line.split("]")[0] and "blk_b" in line.split("]")[1]
            for line in joins
            if "]" in line
        ), (name, joins)


def test_market_leg_is_broadcast_calendar_aggregate(spark):
    """The _rets_mkt_joined market leg (day-keyed mean) is
    calendar-bounded and must broadcast back onto the panel — a shuffle
    join there would add a panel-sized exchange for a calendar-sized
    relation."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES

    plan = _plan(QUERIES["updown_capture"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:3000]
