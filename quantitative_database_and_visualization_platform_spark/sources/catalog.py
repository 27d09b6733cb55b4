"""Table catalog over the parquet lakehouse.

The reference's tables live in ClickHouse with declared DDL
(`database/ddl/*.md` in the reference repo); here the lakehouse is parquet
and the catalog is this module: one `spark.read.parquet` per table, lazily,
with column pruning / predicate pushdown left to Catalyst.

Test data layout (TESTDATA.md): ``{sf_dir}/{table}.parquet`` for
``region nation customer supplier part orders lineitem events documents
embeddings``.

Scale notes (100 TB design):
- reads are plain parquet scans -> vectorized reader + pushdown for free.
- production layout convention (mirrors the reference's
  PARTITION BY toYear/toYYYYMM + ORDER BY clustering,
  reference `database/ddl/quant_db_ddl.md:108`, `Project report.md:414-422`):
  `write_partitioned` writes fact tables partitioned by a date-derived
  column and sorted within partitions by the cluster key so parquet
  row-group min/max statistics can skip data on the cluster key.
"""

from __future__ import annotations

import os
import time
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import context_key

T = TypeVar("T")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that are safe to broadcast-hint when joined to a
# fact table (the reference's meta_*/rel_* star-schema dims,
# `Project report.md:428`). Only tables whose size is FIXED (independent of
# the data scale) belong here: customer/supplier/part grow with the scale
# factor, so forcing a broadcast of them would OOM at 100 TB — they are
# left to AQE, which broadcasts at runtime only when the actual size fits.
DIM_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def path_sig(path: str) -> tuple:
    """Cheap content signature: (mtime_ns, size) of the file, or of every
    direct child of a directory — an in-place rewrite changes it."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        with os.scandir(path) as it:
            entries = sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in it)
        return tuple(entries)
    except OSError:
        # missing path: let the reader raise its own (Spark) error below
        return ("<missing>",)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The session-table registry: every table, plan or count that is derived
# once per session and shared by many queries lives here, keyed by
# (session, *key) and stamped with the path_sig of the files it was
# derived from. This is the Spark analog of the reference's stored
# derived tables (the daily K-line panel, factor_db; Shark's shared
# in-memory tables): a production run writes them to parquet, the bench
# session keeps them as in-memory leaves built inside the first
# consumer's timed region and never persisted across runs.
SHARED_TABLES: dict[tuple, tuple[tuple, object]] = {}

# (key[0], exclusive build seconds) per build, in build order; harnesses
# drain it with take_builds() to bill builds apart from their consumers
_BUILDS: list[tuple[str, float]] = []
_NESTED: list[float] = []  # inclusive seconds of builds nested in each open build


def shared(spark: SparkSession, key: tuple, inputs: tuple[str, ...], build: Callable[[], T]) -> T:
    """Return the value `build()` made for `key` in this session, building
    it on first use and again whenever the signature of an input file
    changes (the new entry overwrites the stale one).

    `key[0]` names the table in the build log. Whatever the value needs
    to be reused cheaply (a lazy plan, a localCheckpoint leaf, a count)
    is the build's business. Recorded seconds are exclusive: a build that
    calls another shared build is not billed for it."""
    full = (context_key(spark), *key)
    sig = tuple(path_sig(p) for p in inputs)
    hit = SHARED_TABLES.get(full)
    if hit is not None and hit[0] == sig:
        return hit[1]
    _NESTED.append(0.0)
    t0 = time.perf_counter()
    try:
        value = build()
    finally:
        wall = time.perf_counter() - t0
        nested = _NESTED.pop()
        if _NESTED:
            _NESTED[-1] += wall
    _BUILDS.append((key[0], wall - nested))
    SHARED_TABLES[full] = (sig, value)
    return value


def take_builds() -> list[tuple[str, float]]:
    """The builds recorded since the last call, as (name, exclusive s)."""
    out = _BUILDS[:]
    _BUILDS.clear()
    return out


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; spark.sql.legacy.parquet.nanosAsLong (set once in
        # session.get_spark / tune_existing — not here: a reader must not
        # mutate session config) surfaces it as raw long nanos, converted
        # via integer division (ns values exceed 2^53, so no double math).
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The analyzed (lazy) DataFrame of one table, memoized per file
    signature. Every `spark.read.parquet(path)` re-lists the path and
    re-reads footers for schema inference — a driver-side job measured
    at 98-275 ms per call (r13) — and queries call load_table
    1-4x each, so a 293-query session would re-derive the same schemas
    hundreds of times. No data is cached: every execution still scans
    parquet (a catalog table's metadata gives this for free)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    return shared(spark, ("load_table", path), (path,), lambda: _read_table(spark, path, name))


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so `spark.sql` queries see the
    same names the DuckDB oracle uses."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Lakehouse write convention: partition dirs for pruning + sort within
    partitions for row-group skipping (the Spark analogue of the
    reference's PARTITION BY + ORDER BY MergeTree layout)."""
    (
        df.repartition(*partition_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
