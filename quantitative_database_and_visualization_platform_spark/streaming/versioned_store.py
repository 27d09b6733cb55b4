"""The at-least-once foreachBatch store shared by the rollup, HLL and
span-anchor sinks: versioned parquet subdirectories plus an
atomically-replaced pointer file.

    store_path/
        _CURRENT                            text file naming the committed version
        _v_<batch_id>/part-00000.parquet    one file per committed rewrite

* Batch N collects the merge to the driver as one Arrow table and
  writes it with pyarrow into a NEW ``_v_<N:012d>`` dir (replacing any
  debris a crashed attempt at N left there): a dot-prefixed temp file,
  fsync'd, then renamed into place — the version costs no Spark job
  beyond the collect. The pointer is committed with ``os.replace``
  (atomic on POSIX) of an fsync'd temp file; superseded version dirs
  are garbage-collected only AFTER the swap. A crash at any point
  leaves either the old committed state (pointer untouched) or the new
  one (pointer swapped) — never an empty store.
* The pointer is the commit point AND the batch high-water mark: the
  version it names is the id of the last merged batch, published by
  the same atomic swap as the data. foreachBatch delivers batches
  at-least-once, so ``fold_batch`` skips any id at or below it (a replay
  after a failure between the commit and the checkpoint) by reading one
  small file — no Spark job — and every sink reduces to a
  ``merge(stored | None, batch)`` function.
* Bootstrap is distinguishable from loss: with no pointer the store is
  bootstrap only when the path is missing or holds nothing but orphan
  ``_v_*`` / dot-hidden debris from a crashed first commit (never
  pointed at). Anything else — a torn overwrite, a corrupt or foreign
  parquet directory — raises and is left untouched, so store loss can
  never restart an aggregate from one batch's delta.
* Both names are underscore-prefixed because Spark's file listing skips
  ``_``/``.`` paths.

This module is the local-filesystem rendition of the contract; a
cluster deployment keeps the identical merge functions and swaps the
commit for MERGE INTO on a transactional table format (Delta/Iceberg),
whose log gives the same atomic-visibility guarantee.
"""

from __future__ import annotations

import functools
import os
import shutil
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

_POINTER = "_CURRENT"
_VPREFIX = "_v_"
_PART = "part-00000.parquet"

Merge = Callable[[DataFrame | None, DataFrame], DataFrame]


def _committed_version(store_path: str) -> str | None:
    try:
        with open(os.path.join(store_path, _POINTER)) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def committed_batch(store_path: str) -> int | None:
    """Id of the last merged batch, or None when nothing was committed."""
    version = _committed_version(store_path)
    return None if version is None else int(version[len(_VPREFIX):])


def read_store(spark, store_path: str) -> DataFrame | None:
    """The committed store, or None at bootstrap (never committed).

    Raises on a store that exists but holds no committed version (torn
    overwrite, corruption, a foreign layout) — the caller must NOT treat
    that as bootstrap.
    """
    version = _committed_version(store_path)
    if version is not None:
        return spark.read.parquet(os.path.join(store_path, version))
    if not os.path.exists(store_path) or _only_uncommitted_debris(store_path):
        return None
    raise RuntimeError(
        f"{store_path} exists but has no {_POINTER} pointer: not a committed "
        "store and not bootstrap; refusing to overwrite it"
    )


def _only_uncommitted_debris(store_path: str) -> bool:
    """True if store_path holds nothing but orphan ``_v_*`` version dirs
    and dot-hidden temp files (no committed data to protect).

    Deliberately narrower than "all underscore/dot entries": a torn
    delete-then-rewrite overwrite leaves exactly ``_temporary``/``_SUCCESS``
    and nothing else — that is LOSS of a committed store, not bootstrap,
    and must keep raising."""
    try:
        names = os.listdir(store_path)
    except OSError:
        return False
    return all(n.startswith(_VPREFIX) or n.startswith(".") for n in names)


def commit_store(df: DataFrame, store_path: str, batch_id: int) -> None:
    """Atomically publish `df` (driver-bounded by the caller's contract)
    as the store's new committed version, merged through `batch_id`."""
    # the merge lands on the driver before any file is touched, so the
    # write cannot observe the store it is about to supersede (callers
    # keep the store cardinality-bounded: buckets x types / groups x 256)
    table = df.toArrow()
    version = f"{_VPREFIX}{int(batch_id):012d}"
    vdir = os.path.join(store_path, version)
    shutil.rmtree(vdir, ignore_errors=True)  # debris of a crashed attempt
    os.makedirs(vdir)
    tmp = os.path.join(vdir, f".{_PART}.{os.getpid()}")
    with open(tmp, "wb") as f:
        pq.write_table(table, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(vdir, _PART))
    tmp = os.path.join(store_path, f".{_POINTER}.{os.getpid()}.{int(batch_id)}")
    with open(tmp, "w") as f:
        f.write(version)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(store_path, _POINTER))  # the commit point
    # best-effort GC strictly AFTER the swap
    for name in os.listdir(store_path):
        if name.startswith(_VPREFIX) and name != version:
            shutil.rmtree(os.path.join(store_path, name), ignore_errors=True)


def fold_batch(spark, store_path: str, merge: Merge, batch: DataFrame, batch_id: int) -> None:
    """One foreachBatch step: merge `batch` into the store and commit it
    as `batch_id`, unless that id is already merged (a replay). The store
    is read through `spark`, the session that started the stream: the
    micro-batch's own session is a streaming clone (CBO off), in which a
    rollup fold of a twelfth of the sf0.01 events measured 0.42 s vs
    0.38 s median over 10 folds on a 4-core host."""
    last = committed_batch(store_path)
    if last is not None and batch_id <= last:
        return
    commit_store(merge(read_store(spark, store_path), batch), store_path, batch_id)


def start_store_sink(stream: DataFrame, store_path: str, merge: Merge):
    """Start an availableNow foreachBatch stream folding every micro-batch
    into the store at store_path. Returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(
            functools.partial(fold_batch, stream.sparkSession, store_path, merge)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", store_path + "_ckpt")
        .start()
    )
