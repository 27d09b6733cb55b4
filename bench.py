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
"""

from __future__ import annotations

import json
import os
import sys
import time

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


try:
    _LOAD_START = round(os.getloadavg()[0], 2)
except OSError:
    _LOAD_START = -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qdvp-bench")
    names = sys.argv[1:] or sorted(QUERIES)

    # warmup: cheap query to absorb JVM + codegen + parquet-footer startup
    _execute(QUERIES["global_market_stats"](spark, sf_dir))

    take_builds()  # the warmup's table loads are not billed to anyone

    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            _execute(QUERIES[name](spark, sf_dir))
            wall = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a broken query must not kill the bench
            print(f"# bench error in {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            wall = None
        finally:
            # drop per-query managed caches so a 55-query session does not
            # accumulate cached blocks (the shared tables are exempt)
            release_managed()
        built = take_builds()
        for table, secs in built:
            builds[table] = builds.get(table, 0.0) + secs
        timings[name] = -1.0 if wall is None else round(wall - sum(s for _, s in built), 3)
    timings.update({f"_build:{t}": round(s, 3) for t, s in builds.items()})

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # quiet-bench protocol (r9): wall times swing +-30% with EXTERNAL
    # host load (the r8 "+13% suite drift" was the closing bench running
    # concurrently with a full pytest rehearsal). Record the 1-minute
    # load average at start and end so every recorded number carries its
    # own ambient-load context; treat load_1m_end > ~cpus/4 as "loaded"
    # and re-run before believing any drift.
    try:
        load_end = round(os.getloadavg()[0], 2)
    except OSError:
        load_end = -1.0
    # mechanical quiet verdict (r10): a run counts as quiet iff the
    # 1-minute load is under cpus/4 at BOTH ends, so round-over-round
    # comparisons can filter on a field instead of re-reading SCALING
    # prose. The end sample must measure AMBIENT load, not the bench's
    # own just-finished 32-thread tail (measured: a bench started at
    # load 0.07 ends at 9.2 purely from self-load, which would mislabel
    # every legitimate run) — so stop the session first and let the
    # 1-minute average decay for 45 s before sampling. An external
    # workload keeps the average high through the wait; the bench's own
    # contribution decays to ~half and stops accruing.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    spark.stop()
    time.sleep(45)
    try:
        load_ambient = round(os.getloadavg()[0], 2)
    except OSError:
        load_ambient = -1.0
    quiet = bool(
        0 <= _LOAD_START < cpus / 4 and 0 <= load_ambient < cpus / 4
    )
    record = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "load_1m_start": _LOAD_START,
        "load_1m_end": load_end,
        "load_1m_ambient": load_ambient,
        "quiet": quiet,
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
        "load_1m_start": _LOAD_START,
        "load_1m_end": load_end,
        "load_1m_ambient": load_ambient,
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
