"""Streaming HLL maintenance: a distinct-count sketch kept current by
MERGING per-micro-batch register partials into a stored register table —
the sketch twin of rollup_sink's continuous aggregate. Register merge is
max(), which is idempotent per register; the store still commits through
versioned_store's fold step, whose pointer is both the atomic commit
point and the batch high-water mark, so a replayed batch is skipped
without a Spark job and a crash mid-rewrite can neither lose the
accumulated registers nor be mistaken for bootstrap.

Scale design: each micro-batch shuffles only its OWN (group x 256)
register cells; the stored table is group-cardinality x 256 rows
regardless of stream length, which bounds the versioned commit's driver
materialization. Estimates come from the shared
hll_estimate_from_registers collapse, so a streaming deployment reads
cardinalities without ever re-touching raw events — and the same store
can be merged ACROSS streams (max of maxes) for a fleet-wide count.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.sketches import hll_estimate_from_registers, hll_registers
from .versioned_store import read_store, start_store_sink


def merge(stored: DataFrame | None, batch: DataFrame, group: str = "event_type",
          element: str = "user_id") -> DataFrame:
    """Fold one micro-batch's register partials into the stored registers."""
    delta = hll_registers(batch, group, element)
    merged = delta if stored is None else stored.unionByName(delta)
    return merged.groupBy(group, "register").agg(F.max("max_rho").alias("max_rho"))


def start_hll_sink(events: DataFrame, store_path: str, group: str = "event_type",
                   element: str = "user_id"):
    """Start a foreachBatch stream maintaining per-group HLL registers at
    store_path. Returns the StreamingQuery; read estimates with
    read_hll_estimates."""
    return start_store_sink(
        events, store_path, functools.partial(merge, group=group, element=element)
    )


def read_hll_estimates(spark, store_path: str, group: str = "event_type") -> DataFrame:
    cur = read_store(spark, store_path)
    if cur is None:
        raise FileNotFoundError(f"no committed HLL store at {store_path}")
    return hll_estimate_from_registers(cur, group)
