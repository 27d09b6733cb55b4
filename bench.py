"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:

    {"metric": "suite_seconds", "value": <total>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Each query is executed to completion with a noop sink (full computation,
no driver-side materialization cost), timed individually. A warmup query
runs first so JVM/codegen startup is not billed to the first query.

Shared session tables (`sources.catalog.shared`: bars, IVF chain,
shingles, n-gram pairs, alpha, IC, table plans, counts) are built inside
their first consumer's timed region. The registry records each build's
exclusive seconds; they are reported as `_build:<table>` entries (summed
over the run) and subtracted from the consumer, so a query's entry is its
own cost. `_build:alpha + alpha101_a` is the number comparable with
rounds that billed the alpha build to `alpha101_a`. BENCH_DETAIL.json is
written only by full-suite runs (no query names on the command line).

BENCH_DETAIL.json also holds, under `layers`, each query entry's
construction (`construct_s`: the wall time of the `QUERIES[name](spark,
sf_dir)` call, including any shared build it triggered; in a one-pass
suite every call but the warmup query's runs its builder, since a
registered query keeps its plan only after its first call), its codegen
(`codegen_s` compiling, `compiles` classes: JVM-wide deltas) and the
`jobs`, `stages` and `tasks` it ran (its own job group, read from the
status tracker: no UI, no port). A consumer's layers include the shared
builds it triggered; `_build:*` entries carry no layer record.

A run is `quiet` when the CPU time other processes used while it ran
(`external_cpu_s`: host busy time minus this process tree's, from /proc)
stays under a quarter of the host's cores over the run's wall time.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

from perfbench.hostcpu import CpuWindow
from perfbench.spans import JvmCounters
from quantitative_database_and_visualization_platform_spark.plans import QUERIES
from quantitative_database_and_visualization_platform_spark.session import (
    get_spark,
    release_managed,
)
from quantitative_database_and_visualization_platform_spark.sources.catalog import (
    take_builds,
)


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.removeprefix("sf"))
    except ValueError:
        return -1.0


def _execute(df) -> None:
    # noop sink: full execution of the plan without collecting to driver
    df.write.format("noop").mode("overwrite").save()


def run_entry(spark, name: str, sf_dir: str) -> tuple[float, dict]:
    """Run registered query `name` to completion; return its wall seconds
    and its layers (see the module docstring). Managed caches are
    released afterwards, also when the query raises."""
    sc, counters = spark.sparkContext, JvmCounters(spark)
    group = f"bench-{name}-{uuid.uuid4().hex[:8]}"
    cg0, n0 = counters.codegen()
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        df = QUERIES[name](spark, sf_dir)
        construct = time.perf_counter() - t0
        _execute(df)
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # drop per-query managed caches so a 55-query session does not
        # accumulate cached blocks (the shared tables are exempt)
        release_managed()
    cg1, n1 = counters.codegen()
    jobs, stages, tasks = counters.job_stats(group)
    return wall, {
        "construct_s": round(construct, 3),
        "codegen_s": round(cg1 - cg0, 3),
        "compiles": n1 - n0,
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
    }


def _load_1m() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


def quiet_verdict(external_cpu_s: float, cpus: int, wall_s: float) -> bool:
    """True when other processes used less than a quarter of the host's
    cores over the run."""
    return external_cpu_s < 0.25 * cpus * wall_s


def main() -> None:
    load_start = _load_1m()
    window = CpuWindow()
    window.start()
    t_start = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qdvp-bench")
    names = sys.argv[1:] or sorted(QUERIES)

    # warmup: cheap query to absorb JVM + codegen + parquet-footer startup
    _execute(QUERIES["global_market_stats"](spark, sf_dir))

    take_builds()  # the warmup's table loads are not billed to anyone

    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    builds: dict[str, float] = {}
    for name in names:
        try:
            wall, layers[name] = run_entry(spark, name, sf_dir)
        except Exception as exc:  # noqa: BLE001 — a broken query must not kill the bench
            print(f"# bench error in {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            wall = None
        built = take_builds()
        for table, secs in built:
            builds[table] = builds.get(table, 0.0) + secs
        timings[name] = -1.0 if wall is None else round(wall - sum(s for _, s in built), 3)
    timings.update({f"_build:{t}": round(s, 3) for t, s in builds.items()})

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # the JVM is still alive here, so its CPU time counts as the bench's own
    host = window.stop()
    wall = time.perf_counter() - t_start
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    quiet = quiet_verdict(host["external_cpu_s"], cpus, wall)
    load_end = _load_1m()
    record = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "load_1m_start": load_start,
        "load_1m_end": load_end,
        "external_cpu_s": host["external_cpu_s"],
        "quiet": quiet,
        "layers": layers,
    }
    # Full per-query detail goes to a repo file; the stdout line must stay
    # UNDER ~2000 bytes because the round driver keeps only the last 2000
    # chars of stdout and parses the JSON line out of that tail — with
    # 100+ registered queries the full dict is ~3.5 KB and the head of the
    # line gets truncated away (BENCH_r04/r05: "parsed": null). Emit the
    # slowest queries first until the byte budget is spent and point at
    # the detail file for the rest.
    # Only a full-suite run replaces it: a subset probe must not clobber
    # the last suite's record.
    full_suite = not sys.argv[1:]
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    if full_suite:
        try:
            with open(detail_path, "w") as fh:
                json.dump(record, fh)
                fh.write("\n")
        except OSError as exc:  # read-only checkout: keep the stdout line anyway
            print(f"# bench: could not write {detail_path}: {exc}", file=sys.stderr)

    head = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": _sf_of(sf_dir),
        "n_queries": len(timings),
        "detail": "BENCH_DETAIL.json" if full_suite else None,
        "load_1m_start": load_start,
        "load_1m_end": load_end,
        "external_cpu_s": host["external_cpu_s"],
        "quiet": quiet,
    }
    budget = 1800 - len(json.dumps({**head, "queries": {}},
                                   separators=(",", ":")))
    shown: dict[str, float] = {}
    used = 0
    for name in sorted(timings, key=lambda n: -timings[n]):
        cost = len(name) + len(f"{timings[name]}") + 6
        if used + cost > budget:
            break
        shown[name] = timings[name]
        used += cost
    print(
        json.dumps({**head, "queries": shown}, separators=(",", ":")),
        flush=True,
    )


if __name__ == "__main__":
    main()
