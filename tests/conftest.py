from __future__ import annotations

import contextlib
import os

import pytest

from quantitative_database_and_visualization_platform_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Two test tiers (r13 verdict item 6): the DEFAULT run is a smoke tier
# the round driver can finish inside its verify budget (the full suite
# is ~25-32 min and the r13 driver's pytest was killed mid-run at ~96%,
# recording a formally-red tests_ok on a green suite). The smoke tier
# keeps the driver-gate insurance (gate-window red-lines, plan guards,
# one-oracle-per-family parity incl. the flagship alpha slice, goldens,
# entry smoke); the exhaustive sweeps (full 293-query parity, the
# empty-corpus and NULL-saturated sweeps, streaming parity, the heavy
# factor checkpoint equivalences) are the builder's tier:
#
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/
#
# Tests are marked, not deleted: a default run reports them as skipped,
# so the split is visible in every log.
FULL_TESTS = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"

full_tier = pytest.mark.full_tier


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full_tier: exhaustive-sweep test, skipped in the default driver "
        "smoke run; enable with SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if FULL_TESTS:
        return
    skip = pytest.mark.skip(
        reason="full-tier sweep: set SPARK_GRAFT_FULL_TESTS=1 (smoke tier keeps "
        "the driver verify inside its budget, r13 verdict item 6)"
    )
    for item in items:
        if item.get_closest_marker("full_tier"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("qdvp-tests", shuffle_partitions=8)
    yield s


@contextlib.contextmanager
def throwaway_query(build, name: str = "_throwaway_query"):
    """Register `build` as query `name` for the block. Yields the
    registered (prepared) entry and the list of sf_dirs the builder ran
    for; afterwards the query and its kept plans are gone."""
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES, query
    from quantitative_database_and_visualization_platform_spark.sources.catalog import (
        SHARED_TABLES,
    )

    builds: list[str] = []

    def counted(spark, sf_dir):
        builds.append(sf_dir)
        return build(spark, sf_dir)

    query(name)(counted)
    try:
        yield QUERIES[name], builds
    finally:
        del QUERIES[name]
        for key in [k for k in SHARED_TABLES if k[1:3] == ("prepared", name)]:
            del SHARED_TABLES[key]


def pytest_sessionfinish(session, exitstatus):
    """Dump per-query Spark/oracle wall-times collected by check_query so
    an oracle-runtime regression is visible before the driver gate runs.

    The merged snapshot goes to the temp dir, never over the tracked
    ORACLE_TIMINGS.json: refreshing the committed gate-cost snapshot is a
    deliberate copy of the printed file."""
    import json
    import pathlib
    import tempfile

    from quantitative_database_and_visualization_platform_spark.plans.oracle_check import TIMINGS

    if TIMINGS:
        tracked = pathlib.Path(__file__).resolve().parent.parent / "ORACLE_TIMINGS.json"
        out = pathlib.Path(tempfile.gettempdir()) / "ORACLE_TIMINGS.json"
        # merge with the tracked snapshot: a targeted (-k) run must not
        # drop the timings of queries it didn't execute
        merged = {}
        try:
            merged = json.loads(tracked.read_text())
        except Exception:
            pass
        merged.update(TIMINGS)
        # prune entries for renamed/deleted queries so the snapshot cannot
        # accumulate stale timings forever (merge-preserve is only for
        # queries a targeted -k run didn't execute, not for ghosts)
        from quantitative_database_and_visualization_platform_spark.plans import QUERIES

        merged = {k: v for k, v in merged.items() if k in QUERIES}
        out.write_text(json.dumps(dict(sorted(merged.items())), indent=1) + "\n")
        print(f"\noracle timings written to {out}")
