"""Capture .explain("formatted") for a set of queries into plans/<round>/.

Usage: python tools/capture_plans.py <suffix> [query ...]

With no query names, captures every query whose baseline bench time is
>= 1.0 s (read from BENCH_DETAIL-style JSON at $SPARK_GRAFT_BASELINE,
default /tmp/bench_r13_opt_baseline.json). Writes
plans/<round>/<query>_<suffix>.txt, where <round> is
$SPARK_GRAFT_PLANS_ROUND (default r14); plans/ is git-ignored, so dumps
are made on demand and never committed. Reads $SPARK_GRAFT_SF_DIR
(default sf0.1). Uses one warm session; alpha-cache builds triggered by
construction are paid once like in the bench.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from quantitative_database_and_visualization_platform_spark.plans import QUERIES
from quantitative_database_and_visualization_platform_spark.session import (
    get_spark,
    release_managed,
)

OUT_DIR = os.path.join(
    ROOT,
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    if not names:
        baseline = os.environ.get("SPARK_GRAFT_BASELINE", "/tmp/bench_r13_opt_baseline.json")
        with open(baseline) as fh:
            qs = json.load(fh)["queries"]
        names = sorted((n for n, s in qs.items() if s >= 1.0), key=lambda n: -qs[n])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("qdvp-capture-plans")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(OUT_DIR, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(plan)
            print(f"[ok] {name}")
        except Exception as exc:  # noqa: BLE001
            print(f"[err] {name}: {type(exc).__name__}: {exc}")
        finally:
            release_managed()
    spark.stop()


if __name__ == "__main__":
    main()
