"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every setting is
chosen to also be correct on a large cluster:

- AQE on (runtime coalescing, skew-join splitting, plan re-optimization).
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics match the
  DuckDB oracle (naive-UTC) exactly.
- Arrow enabled for the few pandas-UDF operators (EMA family).
- shuffle partitions sized to the local core count; on a real cluster AQE
  coalesces from a higher initial number, so we only pin it when running
  locally.
- the JVM-wide cache of compiled generated classes holds 8192 entries
  instead of Spark's 100, so a long-lived session re-running its queries
  reuses their compiled code instead of recompiling it on every pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "qdvp-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cores = cpu_count()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces by SHUFFLE BYTES, but the window-heavy factor
        # stages are CPU-bound with tiny compressed shuffle output: the
        # default 1MB floor collapsed the 101-alpha entity-axis stage to
        # 5 tasks on 32 cores (43s of the 75s build). A 16KB floor lets
        # parallelism-first coalescing keep all cores busy; at production
        # scale partitions are far above 1MB so the floor never binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI mode (Spark 4 default) turns zero-variance corr/covar windows
        # into DIVIDE_BY_ZERO errors; the reference/pandas/DuckDB semantics
        # are NULL on degenerate windows, so run non-ANSI.
        .config("spark.sql.ansi.enabled", "false")
        # events.ts is parquet TIMESTAMP(NANOS), which the vectorized reader
        # rejects; read as long nanos (converted in sources.catalog).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # every PySpark API call otherwise captures the Python call site
        # (stack inspection + a JVM round-trip) for error enrichment; the
        # alpha DAG's ~66k construction calls pay that tax for nothing
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark caches compiled generated classes JVM-wide in an LRU of
        # 100 entries. An LRU smaller than a cyclic working set never
        # hits: the six query_mix queries need 123 classes, so every warm
        # pass recompiled 82-88 of them. Measured on a 4-core VM over the
        # 283 registered non-alpha queries at sf0.01, noop writes, two
        # passes, both JVMs running at once: at 100 the second pass
        # compiled 5852 classes (68 s of compile, 242 s wall), at 8192
        # only 166 (4.1 s, 188 s wall); the first pass fell from 6006 to
        # 3946 because classes shared across queries stop being evicted.
        # The price after the second pass: Metaspace 187 -> 219 MB, code
        # heap 116 -> 153 MB of the JVM's default 240 MB reservation.
        # A static conf: the first session in the JVM fixes the size.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return _quiet_window_warnings(builder.getOrCreate())


def _quiet_window_warnings(spark: SparkSession) -> SparkSession:
    """Silence ``WindowExec: No Partition Defined`` for the ALLOWLISTED
    bounded windows only — every remaining unpartitioned window in the
    repo runs over a relation bounded by construction (nation² pair
    grids, k-bucket series, ~500-row sketch cumulatives; the exact list
    and row-count proofs live in tests/test_plan_shape.py's
    BOUNDED_WINDOW_ALLOWLIST), and the plan red-line test there FAILS
    the build if anyone adds a new unpartitioned window over an
    unbounded relation. So the warning carries no signal here, and
    suppressing it keeps the bench tail clean instead of sending every
    future reader off to re-investigate a known-bounded window."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 — cosmetic; never fail a session over logging
        pass
    return spark


# --- managed persist registry -----------------------------------------------
# Query builders persist() intermediates (dedup signatures, bucketed
# tables) that the CALLER materializes; in a long-lived session running
# many queries those cached blocks would otherwise accumulate and pressure
# executor memory. Builders register via managed_persist; harnesses
# (bench.py, oracle_check) call release_managed() after each query's
# action completes. Deliberately session-lived tables (bars, alpha, ...)
# are localCheckpoint leaves in sources.catalog.shared, not registered.

_MANAGED: list = []


def local_leaf(spark, df):
    """Eager localCheckpoint with AQE off for the build jobs, restored
    afterwards. AQE re-optimizes the remaining plan after every shuffle
    stage, which on a many-stage build is pure driver overhead (the
    101-alpha build: exec 70 s -> 45 s at sf0.1); the leaf is consumed
    under AQE. Truncating lineage (not persist) makes the leaf a 1-node
    plan, so derived queries do not re-analyze the build's tree."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def checkpoint_sized(spark, df, row_bytes: int, floor: int = 4):
    """`local_leaf` re-materialized at a data-sized partition count
    (~64 MB of rows per partition, floored at min(defaultParallelism,
    floor)).

    A raw checkpoint leaf inherits shuffle.partitions from its build —
    a core-count constant — so every downstream scan of a small panel
    becomes a micro-task storm (r13: cointegration_screen 6.0 s on a
    32-partition 4 MB leaf vs 1.9 s at 4); a 1-partition leaf serializes
    broadcast-build chains that ride leaf parallelism with no exchange
    (8.7 s). The coalesce is RE-CHECKPOINTED because a lazy Coalesce
    over raw blocks measured 1.7x slower than physically merged blocks
    (interleaved A/B, same session). `row_bytes` is a per-row
    unsafe-format estimate used only for SIZING, never correctness."""
    leaf = local_leaf(spark, df)
    target = max(
        min(spark.sparkContext.defaultParallelism, floor),
        -(-leaf.count() * row_bytes // (64 << 20)),
    )
    if target < leaf.rdd.getNumPartitions():
        leaf = local_leaf(spark, leaf.coalesce(target))
    return leaf


def managed_persist(df):
    df = df.persist()
    _MANAGED.append(df)
    return df


def managed_count() -> int:
    """How many managed caches are registered and not yet released."""
    return len(_MANAGED)


def release_managed() -> None:
    while _MANAGED:
        try:
            _MANAGED.pop().unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass


def context_key(spark: SparkSession) -> tuple[str, int]:
    """Stable identity for session-scoped caches (sources.catalog.shared).

    ``id(spark.sparkContext)`` is NOT stable: after a context is stopped
    and garbage-collected, CPython can reuse the same id for a new
    context, which would return a stale localCheckpoint'd DataFrame bound
    to the dead JVM. (applicationId, startTime) is unique per real
    context and never reused.
    """
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our config to a session we did
    not create (the driver hands us one).

    The generated-class cache size (``spark.sql.codegen.cache.maxEntries``,
    see `get_spark`) is a static conf that cannot be set here: a session
    built by a driver keeps Spark's 100 entries, so a driver's gate
    session (as mirrored by ``tools/rehearse_gate.py``) still recompiles
    generated code on warm queries. That is expected and not worked
    around."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # see get_spark: keep CPU-bound window stages parallel at bench scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
    # a driver-built session defaults to 10MB broadcast / 200 shuffle
    # partitions; both are runtime-settable and matter at gate scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cpu_count(), 8)))
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return _quiet_window_warnings(spark)
