"""Local mirror of the driver's correctness gate: run each registered
query on Spark AND its DuckDB oracle on the same parquet tables, compare
row count, column names, and values (order-insensitive).

The comparison is STRICT — strictly stronger than float ``==``:

- NULL and NaN are distinct (a pandas-based comparer can't tell them
  apart because both arrive as ``NaN`` in a float64 column — which is how
  a NaN-vs-NULL engine divergence once passed locally yet failed the
  driver's value hash);
- −0.0 and 0.0 are distinct (``==`` says equal; a value hash does not);
- everything is compared via Arrow (Spark ``toArrow()`` / DuckDB
  ``.arrow()``) so null masks survive the transfer.

Used by tests/test_oracle_parity.py and by `python -m
quantitative_database_and_visualization_platform_spark.plans.oracle_check`.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import duckdb
import pyarrow as pa

from ..sources.catalog import TABLES


def _run_oracle_once(sf_dir: str, sql: str, threads: int) -> pa.Table:
    con = duckdb.connect()
    try:
        # bound the oracle's memory and let it spill: the alpha CTE chain
        # carries wide list columns, and the checker often runs next to a
        # large Spark JVM — without a temp_directory DuckDB aborts with
        # OutOfMemory instead of spilling
        con.execute("SET temp_directory='/tmp/duckdb_spill'")
        # the alpha CTE chain evaluates hundreds of window expressions with
        # list state; give DuckDB most of the free RAM (the Spark driver is
        # capped at 8g) and fewer threads — each window thread buffers its
        # own partition state, so fewer threads lowers peak memory at no
        # measurable wall-clock cost for this workload
        con.execute("SET memory_limit='48GB'")
        con.execute(f"SET threads={threads}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con.execute(sql).arrow()
    finally:
        con.close()


def run_oracle(sf_dir: str, sql: str) -> pa.Table:
    try:
        return _run_oracle_once(sf_dir, sql, threads=16)
    except duckdb.OutOfMemoryException:
        # DuckDB's buffer manager occasionally reports a spurious tiny-block
        # allocation failure on the alpha CTE chain even though measured
        # peak RSS is ~3 GB; a fresh connection with fewer threads has
        # always succeeded on retry
        return _run_oracle_once(sf_dir, sql, threads=8)


def _encode(v: object) -> str:
    """Canonical string for one cell: engine-independent, bit-distinct for
    NULL vs NaN and 0.0 vs −0.0."""
    if v is None:
        return "∅"  # ∅
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # repr keeps the sign of -0.0
    if isinstance(v, _dt.datetime):
        # tz-aware values are allowed only on the SPARK side (toArrow tags
        # TimestampType with the session tz; the driver's pandas path sees
        # them naive). Oracle-side tz-awareness is a schema error caught in
        # compare() BEFORE values are encoded — see _tzaware_cols.
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_encode(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_encode(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def _encode_table(t: pa.Table) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    # encode BEFORE sorting: raw rows may hold None/NaN, which Python
    # cannot order; encoded strings sort deterministically on both sides
    encoded = [tuple(_encode(v) for v in row) for row in zip(*data)] if cols else []
    return cols, sorted(encoded)


def _tzaware_cols(t: pa.Table) -> list[str]:
    return [
        f.name
        for f in t.schema
        if pa.types.is_timestamp(f.type) and f.type.tz is not None
    ]


def compare(spark_t: pa.Table, oracle_t: pa.Table) -> list[str]:
    """Return a list of mismatch descriptions (empty == match).

    Oracle-side TIMESTAMPTZ is a schema error even when the values agree:
    Spark TimestampType reaches the driver's pandas canonicalizer as NAIVE
    datetimes (toPandas converts to session tz and drops tzinfo), while a
    DuckDB TIMESTAMPTZ column stays tz-aware — the driver records
    schema_match=false (the r5 `sliding_window_stats` red row, where
    `to_timestamp(epoch)` silently returned TIMESTAMPTZ). The local
    `_encode` strips tzinfo for the Spark side's toArrow artifact
    (timestamp[us, tz=UTC] with session tz pinned to UTC), so this check
    must run on the Arrow SCHEMA, before values are canonicalized.
    """
    tz_bad = _tzaware_cols(oracle_t)
    if tz_bad:
        return [
            f"oracle columns {tz_bad} are TIMESTAMPTZ: the driver compares "
            "them tz-aware against Spark's naive timestamps and fails "
            "schema_match — CAST(... AS TIMESTAMP) in the oracle SQL"
        ]
    # Spark-side tz-aware columns are the toArrow artifact of an INSTANT
    # (plain TIMESTAMP) output: its exported value is a function of the
    # session time zone, so the query only matches its oracle when the
    # session happens to be UTC (the r12 hostile-TZ sweep caught five
    # such queries shifting by the session offset). Event-time outputs
    # must stay TIMESTAMP_NTZ — red-lined here so every parity run
    # enforces it, not just the UTC-pinned driver gate.
    spark_tz_bad = _tzaware_cols(spark_t)
    if spark_tz_bad:
        return [
            f"spark columns {spark_tz_bad} are session-TZ-dependent "
            "TIMESTAMP (instant) outputs: cast them to timestamp_ntz so "
            "the emitted values do not shift with the session time zone"
        ]
    a_cols, a_rows = _encode_table(spark_t)
    b_cols, b_rows = _encode_table(oracle_t)
    if a_cols != b_cols:
        return [f"columns differ: spark={a_cols} oracle={b_cols}"]
    if len(a_rows) != len(b_rows):
        return [f"row count differs: spark={len(a_rows)} oracle={len(b_rows)}"]
    # both sides are sorted by the same encoded key, so positional
    # equality IS multiset equality; per-column reporting for readability
    problems: list[str] = []
    for j, c in enumerate(a_cols):
        av = [r[j] for r in a_rows]
        bv = [r[j] for r in b_rows]
        if av != bv:
            bad = [i for i, (x, y) in enumerate(zip(av, bv)) if x != y][:5]
            diffs = [f"row{i}: {av[i]} vs {bv[i]}" for i in bad]
            n_bad = sum(1 for x, y in zip(av, bv) if x != y)
            problems.append(f"col {c}: {n_bad} value mismatches; e.g. {diffs}")
    return problems


# per-query wall-times from the most recent check_query calls, so a
# "driver can't finish the oracle" regression is visible in the parity
# run before the driver ever sees it (tests/conftest.py merges this over
# ORACLE_TIMINGS.json into the temp dir at session end)
TIMINGS: dict[str, dict[str, float]] = {}


def check_query(spark, sf_dir: str, name: str) -> list[str]:
    import time

    from . import ORACLES, QUERIES
    from ..session import release_managed

    t0 = time.monotonic()
    try:
        sdf = QUERIES[name](spark, sf_dir).toArrow()
    finally:
        release_managed()
    t_spark = time.monotonic() - t0
    if name not in ORACLES:
        TIMINGS[name] = {"spark_s": round(t_spark, 2), "oracle_s": 0.0}
        # rows-only check for non-SQL-expressible ops: must produce data
        return [] if sdf.num_rows > 0 else ["rows-only query returned 0 rows"]
    t1 = time.monotonic()
    odf = run_oracle(sf_dir, ORACLES[name])
    TIMINGS[name] = {
        "spark_s": round(t_spark, 2),
        "oracle_s": round(time.monotonic() - t1, 2),
    }
    return compare(sdf, odf)


def main() -> None:  # pragma: no cover
    import sys

    from ..session import get_spark
    from . import ORACLES, QUERIES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or list(QUERIES)
    spark = get_spark("oracle-check")
    failed = 0
    rows_only_green = 0
    for name in only:
        try:
            problems = check_query(spark, sf_dir, name)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {e}"]
        status = "OK" if not problems else "FAIL"
        if problems:
            failed += 1
        elif name not in ORACLES:
            rows_only_green += 1
        extra = "" if name in ORACLES else " (rows-only, no oracle)"
        print(f"[{status}] {name}{extra}")
        for p in problems:
            print(f"       {p}")
    # split the summary so the headline number cannot be read as N
    # value-hash matches when some queries carry only a rows-only check
    # (r12 verdict "What's wrong" #4)
    hashed_green = len(only) - failed - rows_only_green
    print(
        f"{len(only) - failed}/{len(only)} queries match "
        f"({hashed_green} value-hashed + {rows_only_green} rows-only)"
    )
    sys.exit(1 if failed else 0)


if __name__ == "__main__":  # pragma: no cover
    main()
