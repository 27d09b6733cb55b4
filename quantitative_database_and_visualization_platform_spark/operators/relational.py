"""Relational building blocks mirroring the reference's SQL surface.

The reference issues hand-built ClickHouse SQL (`app/Quantlib/QuantDB.py`);
here each pattern is a parameterized DataFrame function so Catalyst plans
it (broadcast for dims, semi-join for pools, TakeOrderedAndProject for
top-k) — behavior parity, not string parity (SURVEY.md §7.3 risk 7).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def star_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[str] | Column, str] | tuple[DataFrame, Sequence[str] | Column, str, bool]],
    broadcast_dims: bool = False,
) -> DataFrame:
    """Chained equi-joins of a fact table to dimension tables — the
    reference's 5/6-way wide-table joins (`QuantDB.py:112-117,169-175`).

    dims: (dim_df, join_on, how[, broadcast]). Broadcast is opt-in PER
    DIM (or via the broadcast_dims default for all): an explicit
    F.broadcast hint overrides AQE, so forcing it on a fact-sized input
    (orders/customer at 100 TB) would OOM executors. True dimension
    tables (the reference's meta_*/rel_* star dims; catalog.DIM_TABLES)
    are hinted; anything fact-sized is left to Catalyst/AQE, which will
    still broadcast it at runtime when its actual size fits.
    """
    out = fact
    for spec in dims:
        dim, on, how = spec[0], spec[1], spec[2]
        hint = spec[3] if len(spec) > 3 else broadcast_dims
        right = F.broadcast(dim) if hint else dim
        out = out.join(right, on=on, how=how)
    return out


def semi_join_pool(df: DataFrame, pool: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """`WHERE key IN (SELECT ...)` → left-semi join (`QuantDB.py:443-452`)."""
    return df.join(pool, on=on, how="left_semi")


def anti_join_pool(df: DataFrame, pool: DataFrame, on: str | Sequence[str]) -> DataFrame:
    return df.join(pool, on=on, how="left_anti")


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """ORDER BY ... LIMIT k — Spark plans TakeOrderedAndProject: each
    partition keeps k rows, the driver merges; no global sort at scale
    (`QuantDB.py:154,200,433`). Include a unique tie-break column in
    `order` for deterministic results."""
    return df.orderBy(*order).limit(k)


def top_k_per_group(df: DataFrame, group: Sequence[str], order: Sequence[Column], k: int) -> DataFrame:
    w = Window.partitionBy(*group).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def weighted_euclidean(pairs: Sequence[tuple[Column, float, float]]) -> Column:
    """sqrt(sum(w_i^2 * (x_i - probe_i)^2)) — the similar-K-line distance
    (`QuantDB.py:181-202`): per-column probe value and weight."""
    acc = F.lit(0.0)
    for col, probe, weight in pairs:
        d = (col - F.lit(probe)) * F.lit(weight)
        # d * d, not pow(d, 2): libm pow is up to 1 ulp off, plain multiply
        # is the identical IEEE op DuckDB runs.
        acc = acc + d * d
    return F.sqrt(acc)


def prev_row_change(
    df: DataFrame,
    value: str,
    partition: Sequence[str],
    order: Sequence[str],
    out_prefix: str = "",
) -> DataFrame:
    """Today vs previous row: the reference's self-join on
    `max(trade_date) < d` (`QuantDB.py:358-369`) re-expressed as lag() —
    one window instead of a join against a scalar subquery."""
    w = Window.partitionBy(*partition).orderBy(*order)
    prev = F.lag(value).over(w)
    cur = F.col(value)
    pct = F.when(prev > 0, (cur - prev) / prev * 100).otherwise(F.lit(0.0))
    return df.withColumn(f"{out_prefix}prev_{value}", prev).withColumn(
        f"{out_prefix}{value}_pct_chg", pct
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-resistant equi-join: a hot key concentrates its rows in one
    shuffle partition; salting splits each left key into `salt` shards
    and replicates the (small-ish) right side once per shard, so the hot
    key's work spreads across `salt` tasks. AQE's skew-join handles the
    sort-merge case at runtime; this is the explicit variant for when the
    build side must be shuffled anyway (e.g. aggregation follows).

    Output columns = left ⋈ right on `on` (exactly a plain equi-join).
    """
    salted_l = left.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    shards = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt")
    salted_r = right.select("*", shards)
    out = salted_l.join(salted_r, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: Sequence[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Backward as-of join: for every left row, attach the payload of the
    right row with the greatest ``right_time <= left_time`` for the same
    key (LEFT semantics — unmatched left rows keep NULL payload).

    The quant-native "latest quote/bar at or before this event" join. The
    reference gets this implicitly from ClickHouse `argMax` + a scalar
    max-date subquery (`app/Quantlib/QuantDB.py:358-369` prev-day pattern);
    Spark has no ASOF JOIN, so this is the scalable union-merge form:

    - tag both sides, union on a common (key, time) axis,
    - ONE shuffle: window partitionBy(key) orderBy(time, side) where right
      rows sort BEFORE left rows at an equal timestamp (<= semantics),
    - ONE `last(struct(time, *payload), ignorenulls=True)` over
      unbounded-preceding carries each right row's WHOLE payload forward
      atomically — per-column carries would let a NULL in one payload
      column inherit that column from an OLDER right row, silently mixing
      columns of different right rows (diverging from merge_asof/ASOF
      JOIN whole-row semantics),
    - keep only left rows.

    Payload names must be disjoint from left's columns (checked) — a
    collision would mis-bind through the unionByName.

    O(n log n) sort within each key's partition, no join explosion, no
    per-key driver loop — survives a 100× scale-up where the naive
    "join all earlier rows then argmax" quadratic form would not. The
    right side must be unique per (key, time) — pre-aggregate if not
    (ties would otherwise be resolved by sort instability).

    ``tolerance_seconds`` (optional) NULLs the payload when the matched
    right row is older than the tolerance — pandas merge_asof semantics.
    """
    collisions = sorted(set(payload) & set(left.columns))
    if collisions:
        raise ValueError(
            f"asof_join payload columns collide with left columns: {collisions}; "
            "rename the right-side payload before joining"
        )
    # the implementation owns the __-prefixed namespace: a payload column
    # named __rt would collide with the struct's match-time field and make
    # __m.__rt extraction ambiguous (silently corrupting asof_time); the
    # scratch columns __side/__t/__pay/__m would mis-bind the same way
    reserved = sorted(c for c in payload if c.startswith("__"))
    if reserved:
        raise ValueError(
            f"asof_join payload columns {reserved} use the reserved '__' "
            "prefix (internal scratch namespace: __rt/__side/__t/__pay/__m); "
            "rename them before joining"
        )
    lt = F.col(left_time).cast("timestamp")
    rt = F.col(right_time).cast("timestamp")
    l_tagged = left.withColumn("__side", F.lit(1)).withColumn("__t", lt)
    r_tagged = right.select(
        F.col(on),
        rt.alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(rt.alias("__rt"), *[F.col(c) for c in payload]).alias("__pay"),
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the struct is NULL on left rows (unionByName fill) and non-NULL on
    # every right row, so one ignorenulls-last is an atomic whole-row match
    out = (
        unioned.withColumn("__m", F.last("__pay", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    if tolerance_seconds is not None:
        in_tol = F.col("__t").cast("long") - F.col("__m.__rt").cast("long") <= F.lit(
            tolerance_seconds
        )
        out = out.withColumn("__m", F.when(in_tol, F.col("__m")))
    keep = [c for c in left.columns]
    renamed = [F.col(f"__m.{c}").alias(f"asof_{c}") for c in payload]
    return out.select(*keep, F.col("__m.__rt").alias("asof_time"), *renamed)


def band_self_join(
    df: DataFrame,
    key: str,
    value: str,
    band: float,
    payload: Sequence[str] = (),
) -> DataFrame:
    """All pairs (a, b), a.key < b.key, with ``|a.value - b.value| <= band``
    and NO equi-key — a pure range (band) join.

    A naive implementation is a cross join with an inequality filter —
    O(n²) and a single-task cartesian at scale. This is the binned form:
    bucket every row at ``floor(value/band)``, probe each row against its
    own and both neighbor buckets (any in-band partner is within ±1
    bucket), then apply the exact band predicate. Each row meets only the
    rows of 3 buckets, the join is a hash/sort-merge on the bucket id
    (shuffle scales out), and every qualifying pair is produced exactly
    once because the probe side explodes while the build side keeps its
    single true bucket.
    """
    bin_col = F.floor(F.col(value) / F.lit(band)).cast("long")
    probe = df.select(
        F.col(key).alias("a_key"),
        F.col(value).alias("a_val"),
        *[F.col(c).alias(f"a_{c}") for c in payload],
        F.explode(
            F.array(bin_col - 1, bin_col, bin_col + 1)
        ).alias("__bin"),
    )
    build = df.select(
        F.col(key).alias("b_key"),
        F.col(value).alias("b_val"),
        *[F.col(c).alias(f"b_{c}") for c in payload],
        bin_col.alias("__bin"),
    )
    return (
        probe.join(build, on="__bin")
        .filter(
            (F.col("a_key") < F.col("b_key"))
            & (F.abs(F.col("a_val") - F.col("b_val")) <= F.lit(band))
        )
        .drop("__bin")
    )


def latest_row_per_key(
    df: DataFrame, key: Sequence[str], version: Sequence[Column]
) -> DataFrame:
    """ReplacingMergeTree FINAL semantics: keep exactly the newest row per
    key, newest = greatest ``version`` sort order.

    The reference's meta/dimension tables are ReplacingMergeTree keyed on
    code with `updated_at` versions (`database/ddl/quant_db_ddl.md:81-85`);
    ClickHouse collapses duplicates at merge/FINAL time. Spark analogue:
    one window shuffle on the key, row_number() == 1. Include a unique
    tie-break in `version` for determinism.
    """
    w = Window.partitionBy(*key).orderBy(*[v.desc() for v in version])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def window_slice_around(
    df: DataFrame,
    entity: str,
    order: str,
    center_predicate: Column,
    n_before: int,
    n_after: int,
    norm_col: str | None = None,
) -> DataFrame:
    """±N *rows* around a center row per entity, with values normalized to
    the center row — the K-line similarity window (`QuantDB.py:204-224`).

    Emits `day_offset` (0 at the center) and, if norm_col is given,
    `norm_{norm_col}` = value / center value.
    """
    w = Window.partitionBy(entity).orderBy(order)
    rn = F.row_number().over(w)
    df = df.withColumn("__rn", rn)
    center = df.filter(center_predicate).select(
        F.col(entity).alias("__e"),
        F.col("__rn").alias("__center_rn"),
        *( [F.col(norm_col).alias("__center_val")] if norm_col else [] ),
    )
    # no broadcast hint: center has one row per entity — unbounded in the
    # entity count — so a forced broadcast is an OOM at scale; AQE will
    # still broadcast it at runtime when it actually fits.
    out = (
        df.join(center, on=df[entity] == center["__e"], how="inner")
        .withColumn("day_offset", F.col("__rn") - F.col("__center_rn"))
        .filter((F.col("day_offset") >= -n_before) & (F.col("day_offset") <= n_after))
    )
    if norm_col:
        out = out.withColumn(f"norm_{norm_col}", F.col(norm_col) / F.col("__center_val"))
    return out.drop("__e", "__rn", "__center_rn", "__center_val")


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division on long columns (no double rounding)."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def global_ntile(
    df: DataFrame,
    n: int,
    order_cols: Sequence[str | Column],
    *,
    partition_cols: Sequence[str] = (),
    num_ranges: int | None = None,
    out: str = "__ntile",
) -> DataFrame:
    """Exact NTILE(n) over a data-cardinality relation WITHOUT a
    SinglePartition WindowExec.

    `ntile(n).over(Window.orderBy(...))` plans a window with no
    partitioning, which Spark executes by moving EVERY row to one task
    (the `WARN WindowExec: No Partition Defined` path) — a one-executor
    sort of the input. This helper computes the identical bucket
    assignment fully in parallel via a two-pass exact rank:

      1. `repartitionByRange` on (partition_cols + order_cols): each task
         holds a contiguous slice of every group's global order, sampled
         boundaries keep slices balanced (RangePartitioner's reservoir
         sampling is seeded per input partition — deterministic).
      2. per-(range, group) row counts -> cumulative offsets + group
         totals over a (num_ranges x groups)-bounded relation (the only
         unpartitioned window here runs on THAT, never on the data).
      3. local `row_number` within each (range, group) + broadcast-joined
         offset = exact 1-based global rank within the group.
      4. NTILE bucket arithmetic in exact integer math: with N rows and
         q = N div n, rem = N mod n, the first rem buckets take q+1 rows:
         bucket = ceil(rank/(q+1)) while rank <= rem*(q+1), else
         rem + ceil((rank - rem*(q+1))/q).

    Output is bit-identical to the window-function NTILE for any total
    order (callers must include a unique tie-break column, exactly as
    they would under Window.orderBy). `order_cols` may carry `.desc()`
    sort expressions; `partition_cols` (PARTITION BY of the original
    window) must be plain column names.
    """
    spark = df.sparkSession
    if num_ranges is None:
        num_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    gkeys = list(partition_cols)
    ranged = df.repartitionByRange(
        num_ranges, *[F.col(c) for c in gkeys], *order_exprs
    )
    # spark_partition_id is non-deterministic-tagged, so Catalyst cannot
    # push it past the range exchange: it names the range slice itself.
    # PERSISTED: the per-slice counts and the per-slice row_numbers are
    # two consumers of this relation, and the range boundaries come from
    # runtime SAMPLING — if the exchange is not reused between the two
    # subtrees (observed at sf0.1 under a chained/complex input where
    # AQE planned them separately), each branch samples its own
    # boundaries and the offsets no longer align with the local ranks,
    # silently skewing every bucket (caught by the r10 full-suite sf0.1
    # oracle sweep: rfm_customer_scores buckets off by one for ~900
    # rows). Persisting pins ONE materialized partitioning for both.
    from ..session import managed_persist

    # correctness pin: both branches read ONE materialized partitioning
    withpid = managed_persist(
        ranged.withColumn("__gnt_pid", F.spark_partition_id())
    )
    counts = withpid.groupBy("__gnt_pid", *gkeys).agg(
        F.count(F.lit(1)).alias("__gnt_cnt")
    )
    # constant partition key in the global case: same one-group semantics
    # as an empty spec, but it documents the bound (this window runs over
    # the num_ranges-row counts relation, never the data) and avoids the
    # misleading "Moving all data to a single partition" warning. The key
    # must be non-foldable (pmod of a column, not a literal) or Catalyst
    # strips it from the spec and the empty-spec warning returns.
    woff = (
        Window.partitionBy(*gkeys).orderBy("__gnt_pid")
        if gkeys
        else Window.partitionBy(F.pmod(F.col("__gnt_pid"), F.lit(1))).orderBy(
            "__gnt_pid"
        )
    )
    # (num_ranges x groups)-bounded relation: these windows are the
    # partition-count-sized exception to the no-global-window red line
    offs = counts.select(
        "__gnt_pid",
        *gkeys,
        F.coalesce(
            F.sum("__gnt_cnt").over(
                woff.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__gnt_off"),
        F.sum("__gnt_cnt")
        .over(
            woff.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__gnt_n"),
    )
    wloc = Window.partitionBy("__gnt_pid", *gkeys).orderBy(*order_exprs)
    ranked = withpid.withColumn("__gnt_rn", F.row_number().over(wloc))
    joined = ranked.join(F.broadcast(offs), ["__gnt_pid", *gkeys])
    rank = (F.col("__gnt_off") + F.col("__gnt_rn")).cast("long")
    big_n = F.col("__gnt_n").cast("long")
    nlit = F.lit(int(n)).cast("long")
    q = _idiv(big_n, nlit)
    rem = F.pmod(big_n, nlit)
    thr = rem * (q + F.lit(1))
    qsafe = F.greatest(q, F.lit(1).cast("long"))  # div-by-zero guard (N < n)
    bucket = F.when(
        rank <= thr, _idiv(rank + q, q + F.lit(1))
    ).otherwise(rem + _idiv(rank - thr + qsafe - F.lit(1), qsafe))
    keep = df.columns
    return joined.withColumn(out, bucket.cast("int")).select(*keep, out)
