"""Two-phase deterministic quota sampling: the scale path for "top-N per
group by hash order" picks (stratified balancing, per-cluster diversity
quotas).

The one-phase form exact-ranks EVERY row of a group under one window —
correct, but a giant stratum sorts wholesale through one task chain at
100 TB. The two-phase form:

1. **Pre-filter** by hash threshold: keep rows whose 52-bit md5 hash is
   below ceil(2^52 * min(1, safety * quota / group_count)) — a map-side
   predicate against a broadcast per-group count, surviving ~safety*quota
   rows per group.
2. **Exact-rank the survivors** (window over ~quota-sized partitions)
   and take the quota.

The exact rank orders by the FULL md5 hex string (the repo's sampling
order convention); the pre-filter thresholds the numeric value of the
first 13 hex digits, which is order-consistent with the string order —
every row ordered before a surviving row also survives — so the two
phases return BIT-IDENTICAL rows to the one-phase form whenever every
group keeps >= min(quota, group_count) survivors. That containment is
CHECKED in the plan (one tiny broadcast aggregate): groups that
undershoot (probability ~ exp(-quota*(s-1)^2/(2s)) per group — ~1e-10
at quota=128, s=2) are re-ranked in full as a fallback, so the result
is always exact, never approximate. Determinism: pure md5 order,
no RNG state, reshuffle-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_BITS = 52
HASH_SPACE = 1 << HASH_BITS


def _h52(key: Column) -> Column:
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10).cast("long")


def two_phase_quota_pick(
    df: DataFrame,
    group: str,
    key: str,
    quota: Column | int,
    safety: float = 2.0,
) -> DataFrame:
    """Per-group smallest-`quota` rows under (md5(key), key) order,
    computed survivors-first with an exact-containment fallback.

    ``quota`` may be an int or a 1-row/1-col aggregate DataFrame's
    column expressed via a broadcast crossJoin by the caller — here it
    must be a concrete int or a Column usable after the counts join.
    Returns df's columns (same rows as the one-phase window form).
    """
    quota_col = F.lit(quota) if isinstance(quota, int) else quota
    counts = df.groupBy(group).agg(F.count(F.lit(1)).alias("__gc"))
    with_h = df.withColumn("__h", _h52(F.col(key))).join(
        F.broadcast(counts), group
    )
    frac = F.least(F.lit(1.0), F.lit(safety) * quota_col / F.col("__gc"))
    thresh = F.ceil(frac * F.lit(float(HASH_SPACE))).cast("long")
    survivors = with_h.filter(F.col("__h") < thresh)

    # containment check: every group must keep >= min(quota, group size)
    # survivors, else its prefix may miss a true top-quota row. Audit
    # from `counts` (ALL groups), not from the survivors — a group whose
    # survivor set is empty has no survivor-side row and would otherwise
    # escape the audit entirely
    sc = survivors.groupBy(group).agg(F.count(F.lit(1)).alias("__sc"))
    short = (
        counts.join(sc, group, "left")
        .filter(F.coalesce("__sc", F.lit(0)) < F.least(quota_col, F.col("__gc")))
        .select(group, F.lit(True).alias("__short"))
    )
    # fallback, in-plan (no driver collect): an undershooting group keeps
    # its WHOLE group (a superset) for the exact rank; a filter, not
    # union+dropDuplicates, which would collapse legitimately duplicate
    # (group, key) rows the one-phase window form keeps (r6 ADVICE)
    survivors = with_h.join(F.broadcast(short), group, "left").filter(
        (F.col("__h") < thresh) | F.col("__short").isNotNull()
    )

    w = Window.partitionBy(group).orderBy(
        F.md5(F.col(key).cast("string")), key
    )
    return (
        survivors.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota_col)
        .drop("__h", "__gc", "__short", "__rn")
    )
