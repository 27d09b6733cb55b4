"""Quiet-host sf0.01 performance envelope: ONE warm Spark session runs
every registered query, then ONE DuckDB session runs every oracle, and
the totals land in ENVELOPE_sf001.json — the artifact the "within 2× of
the oracle engine at the same sf" envelope is computed from.

Why this exists (r12 verdict "What's wrong" #1): the envelope used to be
read off ORACLE_TIMINGS.json, which conftest refreshed DURING a loaded
pytest run (~30 workers + a Spark JVM contending), so the committed
ratio swung 1.5×→2.4× round to round purely with host load. This tool
measures the same comparison honestly: single session per engine,
sequential queries, ambient load recorded before/after so the artifact
is self-describing about measurement conditions.

Usage: python tools/envelope_sf001.py [sf_dir] [out_json]
  (defaults: /root/testdata/sf0.01, ENVELOPE_sf001.json)
Run it on a quiet host — it refuses (exit 2) if 1-min loadavg >= 2.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "ENVELOPE_sf001.json"
    load0 = os.getloadavg()[0]
    if load0 >= 2.0:
        print(f"host not quiet (load {load0:.1f} >= 2); retry later", file=sys.stderr)
        return 2

    from quantitative_database_and_visualization_platform_spark.plans import ORACLES, QUERIES
    from quantitative_database_and_visualization_platform_spark.plans.oracle_check import run_oracle
    from quantitative_database_and_visualization_platform_spark.session import get_spark, release_managed
    from quantitative_database_and_visualization_platform_spark.sources.catalog import TABLES

    # ---- Spark pass: one warm session, every query, sequential --------
    spark = get_spark("envelope-sf001")
    # warm the JVM / parquet footers with the flagship before timing, the
    # same amortization bench.py applies
    list(QUERIES.values())[0](spark, sf_dir).collect()
    release_managed()
    spark_s: dict[str, float] = {}
    t_spark0 = time.monotonic()
    for name, fn in QUERIES.items():
        t0 = time.monotonic()
        try:
            fn(spark, sf_dir).collect()
        finally:
            release_managed()
        spark_s[name] = round(time.monotonic() - t0, 3)
        print(f"[spark] {name}: {spark_s[name]:.2f}s", flush=True)
    spark_total = time.monotonic() - t_spark0

    # ---- DuckDB pass: one connection, every oracle, sequential --------
    # run_oracle opens a fresh connection per query (that is what the
    # driver does too), so the oracle side carries the same per-query
    # session overhead convention as the Spark side carries its own.
    oracle_s: dict[str, float] = {}
    t_o0 = time.monotonic()
    for name, sql in ORACLES.items():
        t0 = time.monotonic()
        run_oracle(sf_dir, sql)
        oracle_s[name] = round(time.monotonic() - t0, 3)
        print(f"[duckdb] {name}: {oracle_s[name]:.2f}s", flush=True)
    oracle_total = time.monotonic() - t_o0

    load1 = os.getloadavg()[0]
    # the ENVELOPE ratio compares MATCHED PAIRS only: a rows-only query
    # (no oracle) has no DuckDB counterpart doing the same computation,
    # so counting its Spark time against zero oracle time inflates the
    # ratio with a comparison that does not exist (first run: the
    # alpha_ic_scan cache build alone added 36 s / 0.35× to the naive
    # quotient). The unmatched Spark time is still reported, separately.
    matched_spark = sum(v for k, v in spark_s.items() if k in ORACLES)
    unmatched = {k: v for k, v in spark_s.items() if k not in ORACLES}
    ratio = matched_spark / oracle_total
    payload = {
        "sf_dir": sf_dir,
        "n_queries": len(QUERIES),
        "n_oracles": len(ORACLES),
        "spark_total_s": round(spark_total, 1),
        "spark_matched_s": round(matched_spark, 1),
        "spark_unmatched_s": {k: round(v, 2) for k, v in unmatched.items()},
        "oracle_total_s": round(oracle_total, 1),
        "ratio": round(ratio, 3),
        "loadavg_start": round(load0, 2),
        "loadavg_end": round(load1, 2),
        "duckdb_version": duckdb.__version__,
        "spark_s": spark_s,
        "oracle_s": oracle_s,
    }
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(
        f"ENVELOPE: spark {matched_spark:.1f}s (matched; {spark_total:.1f}s "
        f"incl rows-only) vs duckdb {oracle_total:.1f}s = {ratio:.2f}x "
        f"(load {load0:.1f}->{load1:.1f}) -> {out}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
