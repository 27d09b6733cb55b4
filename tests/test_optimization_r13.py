"""Round-13 optimization-round focused tests.

1. `load_table` memoizes the analyzed DataFrame per (session, path,
   file signature): `spark.read.parquet` re-lists the path and re-reads
   footers on every call (measured 98-275 ms per call, guide §1/§6) —
   one memoized plan per immutable file removes that from all 293 query
   constructions. Like every table in the `sources.catalog.shared`
   registry it must NEVER serve stale values: rewriting an input file
   invalidates the entry (stat signature), pinned for every shared
   table by test_shared_table_invalidates_on_rewrite.

2. `daily_bars` is rewritten from two row_number windows to
   min_by/max_by aggregates (guide §2.3 "aggregate before you shuffle",
   §2.4 "remove shuffles outright"): one exchange carrying one
   partial-agg row per (code, day) instead of two full-event sorts. The
   golden here pins the rewrite against the original two-window
   specification, inlined as the spec twin.

3. `bars_table` materializes the daily-bar panel once per (session,
   sf_dir) — the Spark analog of the reference's stored daily K-line
   table (tick→bar materialization, Project report.md:391-400), same
   convention as the r12-endorsed `_alpha_table`. Values must be
   identical to `daily_bars` and the object must be reused within a
   session.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from quantitative_database_and_visualization_platform_spark.factors.panel import (
    bars_table,
    daily_bars,
)
from quantitative_database_and_visualization_platform_spark.plans import (
    QUERIES,
    alpha_queries as aq,
    backtest_queries as bq,
    pipeline_queries as pq,
)
from quantitative_database_and_visualization_platform_spark.sources.catalog import (
    load_table,
    shared,
    take_builds,
)

from conftest import throwaway_query

SF = "/root/testdata/sf0.001"


def test_load_table_memoizes_per_session(spark):
    a = load_table(spark, SF, "nation")
    b = load_table(spark, SF, "nation")
    assert a is b, "same session + same file must return the memoized plan"


def _bars_window_spec(spark, sf_dir):
    """The original two-row_number-window daily_bars, kept as the
    executable specification the min_by/max_by rewrite is pinned to."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("props").isNotNull())
        .withColumn("k", F.regexp_extract("props", r"(\d+)", 1).cast("int"))
    )
    day = F.to_date("ts")
    w_asc = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    w_desc = Window.partitionBy("user_id", day).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    flagged = ev.select(
        F.col("user_id").alias("code"),
        day.alias("d"),
        "value",
        "k",
        F.row_number().over(w_asc).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_z"),
    )
    return flagged.groupBy("code", "d").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_z") == 1, F.col("value"))).alias("close"),
        F.sum("k").alias("volume"),
        (F.sum(F.round(F.col("value") * 100, 0).cast("long") * F.col("k")) / 100.0).alias(
            "amount"
        ),
    )


def test_daily_bars_minby_matches_window_spec(spark):
    spec = _bars_window_spec(spark, SF)
    got = daily_bars(spark, SF)
    assert got.exceptAll(spec).count() == 0
    assert spec.exceptAll(got).count() == 0
    assert got.count() == spec.count() > 0


def test_daily_bars_plan_has_no_window_or_sort(spark):
    plan = daily_bars(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "bars must aggregate, not sort+window, the event stream"
    assert "Sort" not in plan


def test_bars_table_memoizes_and_matches(spark):
    a = bars_table(spark, SF)
    b = bars_table(spark, SF)
    assert a is b, "one materialized panel per (session, sf_dir)"
    raw = daily_bars(spark, SF)
    assert a.exceptAll(raw).count() == 0
    assert raw.exceptAll(a).count() == 0


def test_bars_leaf_partitions_are_size_derived(spark):
    """The materialized leaf must carry a data-sized partition count,
    not the shuffle.partitions core-count constant: a 32-partition leaf
    of a ~4 MB panel turned every leaf scan into 32 micro-tasks
    (cointegration_screen 6.0 s vs 1.9 s at sf0.1), while a 1-partition
    leaf serialized broadcast-build chains (8.7 s). The rule is
    ~64 MB/partition with a min(parallelism, 4) floor."""
    from quantitative_database_and_visualization_platform_spark.factors.panel import (
        _leaf_partitions,
    )

    leaf = bars_table(spark, SF)
    n = leaf.count()
    assert leaf.rdd.getNumPartitions() == _leaf_partitions(spark, n)
    # floor binds at toy scale
    assert _leaf_partitions(spark, n) == min(
        spark.sparkContext.defaultParallelism, 4
    )
    # bytes term dominates at scale: 10B rows ≈ 1 TB of bar rows
    assert _leaf_partitions(spark, 10_000_000_000) >= 10_000


def test_ivf_chain_memoizes_and_matches_raw_chain(spark):
    """The shared session-materialized k-means chain must (a) be built
    once per (session, sf_dir) and (b) be value-identical to the raw
    seeds→assign→refine→reassign derivation it replaced at four query
    sites (the chain is bit-deterministic: floor-quantized distances,
    fixed-point centroid means)."""
    from quantitative_database_and_visualization_platform_spark.pipeline.embeddings import (
        ivf_centroids,
        nearest_centroid,
    )
    from quantitative_database_and_visualization_platform_spark.plans.pipeline_queries import (
        _ivf_chain,
    )

    a2, cents = _ivf_chain(spark, SF)
    a2b, centsb = _ivf_chain(spark, SF)
    assert a2 is a2b and cents is centsb

    emb = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism)
    )
    seeds = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("__cid"), F.col("embedding").alias("__cent"))
    )
    a1 = nearest_centroid(emb, seeds, "embedding", "vec_id")
    raw_cents = ivf_centroids(a1, "embedding").select(
        F.col("cid").alias("__cid"), "__cent"
    )
    raw_a2 = nearest_centroid(emb, raw_cents, "embedding", "vec_id")
    assert cents.exceptAll(raw_cents).count() == 0
    assert raw_cents.exceptAll(cents).count() == 0
    assert a2.exceptAll(raw_a2).count() == 0
    assert raw_a2.exceptAll(a2).count() == 0
    assert a2.count() == raw_a2.count() > 0


def test_shingles_table_memoizes_and_matches_raw(spark):
    """The shared shingle leaf must be built once per (session, sf_dir,
    k, distinct) and be value-identical to `dd.with_shingles` over the
    raw documents table (twelve registered queries consume it)."""
    from quantitative_database_and_visualization_platform_spark.pipeline import (
        dedup as dd,
    )
    from quantitative_database_and_visualization_platform_spark.plans.pipeline_queries import (
        _shingles_table,
    )

    a = _shingles_table(spark, SF, k=3)
    b = _shingles_table(spark, SF, k=3)
    assert a is b
    assert a is not _shingles_table(spark, SF, k=5)
    raw = dd.with_shingles(load_table(spark, SF, "documents"), k=3)
    got = a.select("doc_id", F.explode_outer("shingles").alias("g"))
    want = raw.select("doc_id", F.explode_outer("shingles").alias("g"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == want.count() > 0


PREPARED = "_prepared_events"


def _prepared_rows(spark, sf):
    """Rows of the throwaway prepared query over events, read on a warm
    call: a cold one may run load_table's schema job, which keeps no plan."""
    run = QUERIES[PREPARED]
    run(spark, sf)
    return run(spark, sf).count()


# shared table -> (input it declares, the size of the value it serves)
SHARED_CASES = {
    "load_table": ("events", lambda s, sf: load_table(s, sf, "events").count()),
    "bars": ("events", lambda s, sf: bars_table(s, sf).count()),
    "shingles": ("documents", lambda s, sf: pq._shingles_table(s, sf).count()),
    "ivf": ("embeddings", lambda s, sf: pq._ivf_chain(s, sf)[0].count()),
    "ngram_pairs": ("documents", lambda s, sf: pq._ngram_pairs(s, sf).count()),
    "n_docs": ("documents", pq._n_docs),
    "n_vecs": ("embeddings", pq._n_vecs),
    "n_codes": ("events", bq._n_codes),
    "prepared": ("events", _prepared_rows),
    "alpha": ("events", lambda s, sf: aq._alpha_table(s, sf).count()),
    # the IC table is one row per factor either way; days with an IC shrink
    "ic": ("events", lambda s, sf: aq._ic_table(s, sf).agg(F.sum("n_days")).first()[0]),
}
_ENTITY_KEY = {"events": "user_id", "documents": "doc_id", "embeddings": "vec_id"}


@pytest.mark.parametrize(
    "name",
    [
        # the 101-alpha DAG builds for over a minute per case
        pytest.param(n, marks=pytest.mark.full_tier) if n in ("alpha", "ic") else n
        for n in SHARED_CASES
    ],
)
def test_shared_table_invalidates_on_rewrite(spark, tmp_path, name):
    """Every shared session table is keyed on the files it is derived
    from: rewriting its input in place (first 50 rows by entity key, so
    every size shrinks) must rebuild it, not serve the stale value."""
    import duckdb

    table, size = SHARED_CASES[name]
    sf, src = str(tmp_path), f"{SF}/{table}.parquet"
    con = duckdb.connect()
    prepared = (
        throwaway_query(lambda s, d: load_table(s, d, "events").select("user_id"), PREPARED)
        if name == "prepared"
        else contextlib.nullcontext((None, []))
    )
    with prepared as (_, builds):
        try:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) TO '{sf}/{table}.parquet' (FORMAT PARQUET)"
            )
            before = size(spark, sf)
            built_before = len(builds)
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}') ORDER BY {_ENTITY_KEY[table]}"
                f" LIMIT 50) TO '{sf}/{table}.parquet' (FORMAT PARQUET)"
            )
            after = size(spark, sf)
        finally:
            con.close()
        if name == "prepared":
            assert len(builds) > built_before, "the builder did not run after the rewrite"
    assert after < before, f"{name} served its pre-rewrite value"


def test_shared_bills_nested_builds_exclusively(spark, tmp_path):
    """A build that calls another shared build is billed only its own
    seconds (the IC build calls the alpha build, n-gram pairs call the
    shingles build), and a hit records no build."""
    import time

    def inner():
        time.sleep(0.5)
        return 1

    def outer():
        time.sleep(0.1)
        return shared(spark, ("inner", str(tmp_path)), (), inner) + 1

    take_builds()
    assert shared(spark, ("outer", str(tmp_path)), (), outer) == 2
    assert shared(spark, ("outer", str(tmp_path)), (), outer) == 2
    secs = dict(take_builds())
    assert set(secs) == {"inner", "outer"}
    assert secs["inner"] >= 0.5
    # inclusive time would be >= 0.6 s
    assert 0.1 <= secs["outer"] < 0.5
