"""The foreachBatch store protocol (streaming/versioned_store.py) and the
sinks that fold into it: bootstrap-vs-loss classification, crash
semantics of the versioned commit, the pointer as batch high-water mark
(a replay runs no Spark job), and refusal to overwrite anything that is
not a committed store. Store-only tests run in the default tier; tests
that run a stream are full-tier."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from quantitative_database_and_visualization_platform_spark.streaming import rollup_sink
from quantitative_database_and_visualization_platform_spark.streaming.versioned_store import (
    commit_store,
    committed_batch,
    fold_batch,
    read_store,
)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_versioned_store_raises_on_torn_legacy_overwrite(spark, tmp_path):
    """A torn delete-then-rewrite overwrite leaves only _temporary /
    _SUCCESS: that is LOSS of committed state, not bootstrap."""
    store = tmp_path / "store"
    store.mkdir()
    (store / "_temporary").mkdir()
    (store / "_SUCCESS").touch()
    with pytest.raises(Exception):
        read_store(spark, str(store))


def test_versioned_store_bootstrap_classification_still_works(spark, tmp_path):
    # never created -> bootstrap
    assert read_store(spark, str(tmp_path / "nope")) is None
    assert committed_batch(str(tmp_path / "nope")) is None
    # orphan _v_* debris from a crashed FIRST commit (never pointed at)
    # -> still bootstrap
    crashed = tmp_path / "crashed"
    (crashed / "_v_000000000001").mkdir(parents=True)
    assert read_store(spark, str(crashed)) is None
    assert committed_batch(str(crashed)) is None
    # a real commit round-trips, and the pointer names its batch id
    ok = tmp_path / "ok"
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    commit_store(df, str(ok), 7)
    got = read_store(spark, str(ok))
    assert got is not None and got.collect() == df.collect()
    assert committed_batch(str(ok)) == 7


def test_commit_store_zero_row_dataframe(spark, tmp_path):
    """A zero-row commit (e.g. a batch that aggregated to nothing) must
    publish a readable empty version, not crash createDataFrame."""
    store = str(tmp_path / "store")
    empty = spark.createDataFrame([], "k int, v int")
    commit_store(empty, store, 0)
    got = read_store(spark, store)
    assert got is not None and got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k", "v"]


def test_fold_replay_runs_no_spark_job(spark, tmp_path):
    """The pointer is the high-water mark: a replayed batch id is skipped
    without running a single Spark job — also against a committed EMPTY
    store (0 rows, batch 0), where a max() over a stored id column is
    NULL and would re-merge the batch. A new id still merges."""
    store = str(tmp_path / "store")
    commit_store(spark.createDataFrame([], "k int"), store, 0)
    merged = []

    def merge(stored, batch):
        merged.append(batch)
        return batch if stored is None else stored.unionByName(batch)

    batch = spark.createDataFrame([(1,)], "k int")
    sc = spark.sparkContext
    replay, fresh = f"replay-{uuid.uuid4().hex}", f"fresh-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(replay, "replayed fold step")
        fold_batch(spark, store, merge, batch, 0)
        sc.setJobGroup(fresh, "new fold step")
        fold_batch(spark, store, merge, batch, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert list(tracker.getJobIdsForGroup(replay)) == []
    assert len(merged) == 1
    # the job group does capture the fold step's jobs when it merges
    assert len(tracker.getJobIdsForGroup(fresh)) > 0
    assert committed_batch(store) == 1
    assert [r["k"] for r in read_store(spark, store).collect()] == [1]


def test_versioned_store_crash_semantics(spark, tmp_path):
    """Losing the committed store mid-rewrite must never be mistaken for
    bootstrap. The versioned commit must (a) keep the OLD version
    readable while a newer uncommitted version dir exists (crash before
    the pointer swap), (b) treat orphan version debris with no pointer
    as bootstrap (crashed FIRST commit — nothing was ever committed),
    and (c) RAISE when the pointed-at version is missing (real loss)."""
    store = str(tmp_path / "store")
    df1 = spark.createDataFrame([(1, 10)], "k int, v int")
    commit_store(df1, store, 0)
    assert [(r["k"], r["v"]) for r in read_store(spark, store).collect()] == [(1, 10)]

    # (a) crash BEFORE pointer swap: new version dir written, pointer old
    spark.createDataFrame([(9, 99)], "k int, v int").write.parquet(
        f"{store}/_v_000000000001"
    )
    assert [(r["k"], r["v"]) for r in read_store(spark, store).collect()] == [(1, 10)]
    assert committed_batch(store) == 0
    # a real commit for the same id then supersedes the debris cleanly
    commit_store(df1.withColumn("v", F.lit(20)), store, 1)
    assert [(r["k"], r["v"]) for r in read_store(spark, store).collect()] == [(1, 20)]
    assert not os.path.exists(f"{store}/_v_000000000000")  # GC'd after swap

    # (b) orphan debris, no pointer ever written -> bootstrap (None)
    store2 = str(tmp_path / "store2")
    spark.createDataFrame([(9, 99)], "k int, v int").write.parquet(
        f"{store2}/_v_000000000000"
    )
    assert read_store(spark, store2) is None

    # (c) pointer present but version dir gone -> loss must RAISE
    ptr = open(f"{store}/_CURRENT").read().strip()
    shutil.rmtree(f"{store}/{ptr}")
    with pytest.raises(Exception):
        read_store(spark, store).collect()


def _garbage_part(spark, store: str) -> None:
    os.makedirs(store)
    with open(f"{store}/part-00000.parquet", "w") as f:
        f.write("this is not parquet")


def _flat_layout_rollup(spark, store: str) -> None:
    # a readable rollup written as plain parquet, with no _CURRENT pointer
    spark.createDataFrame(
        [(dt.date(2024, 1, 1), "click", 5, 500)],
        "day date, event_type string, event_cnt bigint, value_cents bigint",
    ).coalesce(1).write.parquet(store)


@pytest.mark.parametrize("make", [_garbage_part, _flat_layout_rollup], ids=["corrupt", "flat_layout"])
def test_rollup_sink_raises_on_corrupt_store(spark, tmp_path, make):
    """A store path that exists but holds no committed version (a corrupt
    part file, or a parquet directory without the pointer) must raise —
    treating it as bootstrap would silently replace what it holds with
    one batch's delta — and its files must be left byte-identical."""
    store = str(tmp_path / "store")
    make(spark, store)
    before = _files(store)
    batch = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1, 12, 0), event_type="click", value=1.0)]
    )
    with pytest.raises(Exception):
        fold_batch(spark, store, rollup_sink.merge, batch, 0)
    assert _files(store) == before


@pytest.mark.full_tier
def test_rollup_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch re-delivered with the SAME
    batch_id (failure between store commit and checkpoint commit) must
    not be merged twice. Run the sink, then drive its fold step by hand
    with the committed id and the next one."""
    events = spark.createDataFrame(
        [
            Row(ts=dt.datetime(2024, 1, 1, 9, 30), event_type="click", value=1.25),
            Row(ts=dt.datetime(2024, 1, 1, 9, 31), event_type="purchase", value=7.5),
            Row(ts=dt.datetime(2024, 1, 2, 10, 0), event_type="click", value=0.5),
        ]
    )
    src, store = str(tmp_path / "in"), str(tmp_path / "store")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = rollup_sink.start_rollup_sink(stream, store)
    q.awaitTermination(120)
    assert q.exception() is None
    key = ["day", "event_type"]
    once = rollup_sink.read_rollup(spark, store).toPandas().sort_values(key).reset_index(drop=True)
    assert once["event_cnt"].sum() == 3

    batch = spark.read.parquet(src)
    last = committed_batch(store)
    fold_batch(spark, store, rollup_sink.merge, batch, last)  # replay: a no-op
    twice = rollup_sink.read_rollup(spark, store).toPandas().sort_values(key).reset_index(drop=True)
    assert twice.equals(once), "replayed batch was merged twice"
    # a NEW id still merges
    fold_batch(spark, store, rollup_sink.merge, batch, last + 1)
    thrice = rollup_sink.read_rollup(spark, store).toPandas()
    assert thrice["event_cnt"].sum() == 2 * once["event_cnt"].sum()
    assert committed_batch(store) == last + 1
