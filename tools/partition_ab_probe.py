"""Warm-session A/B of partition-sizing knobs on the anti-scaling tail
(r14 item 4). For each query x variant, runs N interleaved iterations in
ONE session (runtime-settable confs only) and prints per-variant median
wall seconds. Measurement-only tool; never used by queries.

Variants:
  base   : session defaults (shuffle.partitions=32, minPartitionSize=16KB)
  sp8    : shuffle.partitions=8
  mp1m   : AQE coalesce minPartitionSize=1MB (Spark default)
  mp1m200: minPartitionSize=1MB + shuffle.partitions=200 (cluster-default
           shape; AQE coalesces from a higher initial count)
  ccp    : base + canChangeCachedPlanOutputPartitioning=true (AQE may
           coalesce persisted subtrees and their scans)
  ccp1m  : ccp + minPartitionSize=1MB

Usage: PYTHONPATH=. python tools/partition_ab_probe.py q1 q2 ... [--n=5]
"""

from __future__ import annotations

import statistics
import sys
import time

from quantitative_database_and_visualization_platform_spark.plans import QUERIES
from quantitative_database_and_visualization_platform_spark.session import (
    get_spark,
    release_managed,
)

VARIANTS = {
    "base": {"spark.sql.shuffle.partitions": "32",
             "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
             "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false"},
    "sp8": {"spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false"},
    "mp1m": {"spark.sql.shuffle.partitions": "32",
             "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1MB",
             "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false"},
    "mp1m200": {"spark.sql.shuffle.partitions": "200",
                "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1MB",
                "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false"},
    # cached-plan AQE: persisted subtrees otherwise materialize at full
    # shuffle.partitions and their scans are immune to AQE coalescing
    "ccp": {"spark.sql.shuffle.partitions": "32",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true"},
    "ccp1m": {"spark.sql.shuffle.partitions": "32",
              "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1MB",
              "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true"},
}


def main() -> None:
    n = 5
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--n="):
            n = int(a.split("=", 1)[1])
        else:
            names.append(a)
    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark("partition-ab-probe")
    QUERIES["global_market_stats"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in names:
        walls: dict[str, list[float]] = {v: [] for v in VARIANTS}
        for _ in range(n):
            for variant, confs in VARIANTS.items():
                for k, v in confs.items():
                    spark.conf.set(k, v)
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                walls[variant].append(time.perf_counter() - t0)
                release_managed()
        for k, v in VARIANTS["base"].items():
            spark.conf.set(k, v)
        meds = {v: round(statistics.median(w), 2) for v, w in walls.items()}
        mins = {v: round(min(w), 2) for v, w in walls.items()}
        print(f"{name}: med={meds} min={mins}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
