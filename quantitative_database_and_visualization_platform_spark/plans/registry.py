"""Named-query registry: the driver-facing catalog of every implemented
operator (SURVEY.md §2), each as a (PySpark callable, DuckDB oracle SQL)
pair.

Determinism conventions (so the order-insensitive value-hash comparison
against DuckDB is exact, not approximate):

- **Sums/averages of doubles** are computed as exact integer sums of
  fixed-point "cents" (``SUM(CAST(ROUND(x*scale,0) AS BIGINT))/scale``) on
  BOTH sides — integer addition is order-independent, so Spark's partial
  aggregation and DuckDB's single-threaded sum produce bit-identical
  doubles.
- **Small-magnitude float statistics** (corr, stddev, median, pct-change)
  are rounded to 6 decimals on both sides; their cross-engine error is
  ~1e-12 so the rounding boundary is never in doubt.
- **LIMIT queries** always ORDER BY a unique key suffix.
- **Counts** are CAST to BIGINT in the oracle (DuckDB count_if/sum(int)
  widen to HUGEINT otherwise).

Every registered query is a *prepared entry* (`_prepared`): the Python
builder runs once per session and input signature, and warm calls wrap
the kept analyzed plan in a new DataFrame. The module-level builder
functions stay unwrapped; ``QUERIES[name].__wrapped__`` is the builder.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import context_key, managed_count
from ..sources.catalog import SHARED_TABLES, TABLES, path_sig, table_path

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        # Loud duplicate guard (r12): registration is last-writer-wins
        # on a plain dict, so a name collision silently REPLACES an
        # already-gated query — round 12 briefly shadowed the r8/r9
        # variance_ratio_test and mean_reversion_halflife with new
        # definitions and only a downstream golden caught it. Fail at
        # import, where the collision is written, not at the gate.
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(already registered by {QUERIES[name].__module__})"
            )
        QUERIES[name] = _prepared(name, fn)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _prepared(name: str, build: Callable[[SparkSession, str], DataFrame]):
    """`build` as a prepared entry.

    Building a query's DataFrame is ~200 py4j round trips with eager
    analysis (0.08-0.19 s for the query_mix queries), about a third of a
    warm query's wall time, and a long-lived session sends the same
    queries again and again. The first construction in a session that
    runs no Spark job and registers no `managed_persist` keeps its
    analyzed plan in `SHARED_TABLES` under
    ``(context_key, "prepared", name, sf_dir)``; a later call from the
    same SparkSession object whose signature still matches returns
    ``Dataset.ofRows`` over that plan without running `build`.

    The signature is the `path_sig` of `sf_dir`'s listing and of every
    `TABLES` file in it, plus the session's SQL conf (analysis fixes the
    time zone, ANSI mode and other settings into the plan). A hit skips
    only construction and analysis: it gets its own QueryExecution, so
    Catalyst optimizes and plans it, AQE adapts it and it scans parquet.
    A construction that ran a job (a shared-table build, an eager
    checkpoint, a collect to a literal) is never kept, because its plan
    holds data the next call must derive again; nor is one that
    registered a managed cache, which the caller releases after the
    query. Python-side state a builder reads (a module constant) is not
    in the signature: the builder itself is ``QUERIES[name].__wrapped__``.

    Every hit adds its Dataset id to the id set Spark's self-join check
    tags on the kept plan's root, one boxed long per call; giving each
    hit a fresh root would cost an analysis again (about 3 ms, against
    0.2-0.5 ms for the hit).
    """

    @functools.wraps(build)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (context_key(spark), "prepared", name, sf_dir)
        sig = _signature(spark, sf_dir)
        hit = SHARED_TABLES.get(key)
        if hit is not None:
            kept_sig, (owner, replay) = hit
            if kept_sig == sig and owner is spark:
                return DataFrame(replay(), spark)
        jobs, persists = _jobs_started(spark), managed_count()
        df = build(spark, sf_dir)
        if jobs is not None and jobs == _jobs_started(spark) and persists == managed_count():
            of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
            plan = df._jdf.queryExecution().analyzed()
            SHARED_TABLES[key] = (sig, (spark, functools.partial(of_rows, spark._jsparkSession, plan)))
        return df

    return run


def _signature(spark: SparkSession, sf_dir: str) -> tuple:
    """What a prepared plan depends on besides the builder's code: the
    input files (and any file added next to them, such as a precomputed
    summary a builder looks for) and the session's SQL conf."""
    files = (sf_dir, *(table_path(sf_dir, t) for t in TABLES))
    conf = spark._jsparkSession.sessionState().conf().getAllConfs().toString()
    return tuple(path_sig(p) for p in files), conf


def _jobs_started(spark: SparkSession) -> int | None:
    """Spark jobs submitted in this context so far, or None when the
    counter cannot be read."""
    try:
        return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    except Exception:  # noqa: BLE001 — unreadable counter: keep nothing
        return None


# --- Spark-side determinism helpers ---


def sum_fixed(c: Column | str, scale: int = 100) -> Column:
    """Order-independent exact sum of a double column via fixed-point
    integer accumulation."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(F.round(col * scale, 0).cast("long")) / float(scale)


def avg_fixed(c: Column | str, scale: int = 100) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return sum_fixed(col, scale) / F.count(col)


def o_sum_fixed(expr: str, scale: int = 100) -> str:
    """Oracle-side twin of sum_fixed."""
    return f"SUM(CAST(ROUND(({expr})*{scale},0) AS BIGINT))/{scale}.0"


def o_avg_fixed(expr: str, scale: int = 100) -> str:
    return f"{o_sum_fixed(expr, scale)}/COUNT({expr})"


def round6(c: Column | str) -> Column:
    """Cross-engine-deterministic 6-dp rounding: ``FLOOR(x*1e6+0.5)/1e6``
    (identical IEEE ops on both engines) instead of ``ROUND`` (Spark
    rounds the shortest BigDecimal repr HALF_UP, DuckDB multiplies the raw
    double — they disagree whenever the shortest repr ends in "...5" at
    the boundary). Non-finite inputs are normalized to NULL first: Spark's
    FLOOR returns a LONG so NaN would silently become 0 (and ±Inf a
    saturated long) while DuckDB keeps NaN/Inf, and −0.0 vs 0.0 hash
    differently even though they compare equal. Floor output is an exact
    integer, so the quotient can never be −0.0 or a boundary case."""
    col = F.col(c) if isinstance(c, str) else c
    finite = F.when(
        F.isnan(col) | (col == float("inf")) | (col == float("-inf")), F.lit(None)
    ).otherwise(col)
    return F.floor(finite * 1_000_000 + F.lit(0.5)) / 1_000_000.0


def o_round6(expr: str) -> str:
    """Oracle-side twin of :func:`round6`."""
    return (
        f"CASE WHEN isnan({expr}) OR isinf({expr}) THEN NULL "
        f"ELSE FLOOR(({expr})*1000000 + 0.5)/1000000.0 END"
    )
