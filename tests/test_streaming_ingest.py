"""Streaming tick→bar (vs its batch twin), CSV encoding-fallback
roundtrip, compaction, and the multimodal decode stub."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

# streaming/batch parity sweeps run minutes of micro-batch work and have
# no bench surface: builder tier (r14 smoke split, see conftest)
pytestmark = pytest.mark.full_tier

SF = "/root/testdata/sf0.001"


def test_streaming_minute_bars_match_batch(spark):
    from quantitative_database_and_visualization_platform_spark.plans import QUERIES
    from quantitative_database_and_visualization_platform_spark.streaming import (
        stream_events,
        streaming_minute_bars,
    )

    bars = streaming_minute_bars(stream_events(spark, SF))
    assert bars.isStreaming
    q = (
        bars.writeStream.format("memory")
        .queryName("bars_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, bar_start, low, high, n_ticks, volume FROM bars_test"
    ).toPandas()
    want = (
        QUERIES["tick_bars_minute"](spark, SF)
        .select("user_id", "bar_start", "low", "high", "n_ticks", "volume")
        .toPandas()
    )
    # append mode emits only windows CLOSED by the final watermark
    # (max event time - 5 min); the still-open tail windows are withheld
    import pandas as pd

    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table

    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    cutoff = pd.Timestamp(max_ts) - pd.Timedelta(minutes=5)
    want = want[want["bar_start"] + pd.Timedelta(minutes=1) <= cutoff]
    key = ["user_id", "bar_start"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert got.equals(want)


def test_streaming_sliding_windows_match_batch(spark):
    """Overlapping 10-min/5-min sliding windows: the streaming run (append
    mode, watermark-closed windows only) must equal the batch run of the
    SAME function over the same parquet, restricted to the same closed
    windows."""
    import pandas as pd

    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.streaming import (
        sliding_type_stats,
        stream_events,
    )

    stats = sliding_type_stats(stream_events(spark, SF))
    assert stats.isStreaming
    q = (
        stats.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT event_type, win_start, win_end, n_events, value_total FROM sliding_test"
    ).toPandas()
    ev = load_table(spark, SF, "events")
    want = sliding_type_stats(ev).toPandas()
    max_ts = ev.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    cutoff = pd.Timestamp(max_ts) - pd.Timedelta(minutes=5)
    want = want[pd.to_datetime(want["win_end"]) <= cutoff]
    key = ["event_type", "win_start"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    # every event must appear in exactly size/slide = 2 windows (ignoring
    # the open tail): total streamed counts ≈ 2× the closed-window events
    assert got.equals(want)


def test_streaming_rollup_sink_matches_batch(spark):
    """foreachBatch continuous aggregate: ingest the events corpus split
    into 4 files, ONE micro-batch per file (maxFilesPerTrigger=1), merge
    partials into the parquet store per batch — the final store must
    equal a from-scratch batch rollup regardless of batch boundaries."""
    import shutil
    import tempfile

    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.streaming import (
        read_rollup,
        start_rollup_sink,
    )
    from quantitative_database_and_visualization_platform_spark.streaming.rollup_sink import (
        _partial_rollup,
    )

    tmp = tempfile.mkdtemp(prefix="qdvp_rollup_")
    try:
        ev = load_table(spark, SF, "events")
        ev.repartition(4).write.parquet(f"{tmp}/in")
        stream = (
            spark.readStream.schema(spark.read.parquet(f"{tmp}/in").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        q = start_rollup_sink(stream, f"{tmp}/store")
        q.awaitTermination(120)
        got = (
            read_rollup(spark, f"{tmp}/store")
            .toPandas()
            .sort_values(["day", "event_type"])
            .reset_index(drop=True)
        )
        want = (
            _partial_rollup(ev)
            .select(
                "day",
                "event_type",
                "event_cnt",
                (F.col("value_cents") / 100.0).alias("value_total"),
            )
            .toPandas()
            .sort_values(["day", "event_type"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want) > 0
        assert got.equals(want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_running_stats_match_batch(spark):
    from quantitative_database_and_visualization_platform_spark.streaming import (
        running_user_stats,
        stream_events,
    )

    stats = running_user_stats(stream_events(spark, SF))
    assert stats.isStreaming
    q = (
        stats.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, event_cnt, value_cents, max_value FROM stateful_test"
    ).toPandas()
    # update mode may emit one row per user per micro-batch; the LAST row
    # per user is the final state
    got = got.groupby("user_id").tail(1).sort_values("user_id").reset_index(drop=True)
    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table

    want = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
            F.max("value").alias("max_value"),
        )
        .orderBy("user_id")
        .toPandas()
    )
    assert len(got) == len(want) > 0
    assert got.equals(want)


def test_csv_roundtrip_with_encoding_fallback(spark):
    from quantitative_database_and_visualization_platform_spark.sources.ingest import (
        read_csv_with_fallback,
        write_csv_bulk,
    )

    tmp = tempfile.mkdtemp(prefix="qdvp_csv_")
    try:
        part = spark.read.parquet(f"{SF}/part.parquet").select(
            "p_partkey", "p_name", "p_retailprice"
        )
        write_csv_bulk(part, f"{tmp}/part_csv")
        back = read_csv_with_fallback(spark, f"{tmp}/part_csv", schema=part.schema)
        assert back.count() == part.count()
        a = part.orderBy("p_partkey").toPandas()
        b = back.orderBy("p_partkey").toPandas()
        assert a.equals(b)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compaction_preserves_rows(spark):
    from quantitative_database_and_visualization_platform_spark.sources.ingest import (
        compact_partitions,
    )

    tmp = tempfile.mkdtemp(prefix="qdvp_compact_")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        orders.repartition(8).write.parquet(f"{tmp}/orders")
        compact_partitions(spark, f"{tmp}/orders", 2, sort_cols=["o_orderkey"])
        compacted = spark.read.parquet(f"{tmp}/orders__compacted")
        assert compacted.count() == orders.count()
        files = compacted.select(F.input_file_name()).distinct().count()
        assert files <= 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_multimodal_decode_stub_batches(spark):
    from quantitative_database_and_visualization_platform_spark.pipeline.multimodal import (
        decode_documents,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = decode_documents(docs).toPandas()
    assert len(out) == docs.count()
    assert (out["width"].between(16, 79)).all()
    assert (out["n_frames"].between(1, 5)).all()


def test_multimodal_real_codec_contract(spark):
    """The real-codec integration point: with Pillow installed, a real
    PNG batch must decode into the SAME schema the stub emits; without
    Pillow, the path must fail loudly (NotImplementedError), never fall
    back to stub metadata silently."""
    import pandas as pd
    import pytest

    from quantitative_database_and_visualization_platform_spark.pipeline.multimodal import (
        decode_batch,
    )

    try:
        import io

        from PIL import Image
    except ImportError:
        batch = pd.DataFrame({"doc_id": [1], "content": [b"\x89PNG fake"]})
        with pytest.raises(NotImplementedError):
            list(decode_batch(iter([batch]), use_real_codec=True))
        return

    buf = io.BytesIO()
    Image.new("RGB", (20, 10)).save(buf, format="PNG")
    png = buf.getvalue()
    batch = pd.DataFrame({"doc_id": [7], "content": [png]})
    (out,) = list(decode_batch(iter([batch]), use_real_codec=True))
    row = out.iloc[0]
    assert list(out.columns) == ["doc_id", "n_bytes", "width", "height", "n_frames"]
    assert (row["doc_id"], row["width"], row["height"], row["n_frames"]) == (7, 20, 10, 1)
    assert row["n_bytes"] == len(png)


def test_bulk_ingest_throughput_floor(spark):
    """The reference's one hard perf number is bulk-insert throughput
    (800k-1.2M rows/s via the clickhouse-client native pipe,
    `Project report.md:648-656`). Mirror: CSV-sink 2M synthetic rows
    through the executor-parallel bulk writer, read them back through the
    encoding-sniff reader, and assert a conservative floor on this
    sandbox (>=300k rows/s each way) so an accidental driver-side
    single-file writer or per-row Python path cannot sneak in."""
    import shutil
    import tempfile
    import time

    from quantitative_database_and_visualization_platform_spark.sources.ingest import (
        read_csv_with_fallback,
        write_csv_bulk,
    )

    n = 2_000_000
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        F.concat(F.lit("name_"), (F.col("id") % 1000)).alias("name"),
    )
    tmp = tempfile.mkdtemp(prefix="qdvp_bulk_")
    try:
        t0 = time.perf_counter()
        write_csv_bulk(df, f"{tmp}/out")
        w = time.perf_counter() - t0
        t0 = time.perf_counter()
        back = read_csv_with_fallback(spark, f"{tmp}/out", header=True)
        assert back.count() == n
        r = time.perf_counter() - t0
        print(f"bulk CSV write {n/w/1e6:.2f}M rows/s, read+count {n/r/1e6:.2f}M rows/s")
        assert n / w > 300_000, f"write throughput {n/w:,.0f} rows/s below floor"
        assert n / r > 300_000, f"read throughput {n/r:,.0f} rows/s below floor"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream inner interval join (clicks x purchases within 10
    minutes, watermarks both sides): with a full availableNow replay the
    emitted matches must equal the batch join of the same function."""
    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.streaming import (
        click_purchase_interval_join,
        stream_events,
    )

    ev_stream = stream_events(spark, SF)
    clicks_s = ev_stream.filter(F.col("event_type") == "click")
    purch_s = ev_stream.filter(F.col("event_type") == "purchase")
    joined = click_purchase_interval_join(clicks_s, purch_s)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssj_test").toPandas()
    ev = load_table(spark, SF, "events")
    want = click_purchase_interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    ).toPandas()
    key = ["click_id", "purchase_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert got.equals(want)


def test_zipped_csv_ingest_with_encoding_mix(spark):
    """ZIP→CSV intake: two archives, one GB18030-encoded member and one
    UTF-8, decoded executor-side (mapInPandas over binaryFile) — rows
    must equal the plain concatenation, bad lines skipped."""
    import io
    import os
    import tempfile
    import zipfile

    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from quantitative_database_and_visualization_platform_spark.sources.ingest import read_zipped_csvs

    schema = StructType(
        [StructField("code", StringType()), StructField("qty", LongType())]
    )
    tmp = tempfile.mkdtemp(prefix="qdvp_zip_")
    try:
        df1 = pd.DataFrame({"code": ["沪A001", "深B002"], "qty": [10, 20]})
        df2 = pd.DataFrame({"code": ["x1", "x2", "x3"], "qty": [1, 2, 3]})
        with zipfile.ZipFile(os.path.join(tmp, "a.zip"), "w") as zf:
            buf = io.BytesIO()
            df1.to_csv(buf, index=False, encoding="GB18030")
            zf.writestr("gbk_part.csv", buf.getvalue())
            zf.writestr("notes.txt", b"ignored non-csv member")
        with zipfile.ZipFile(os.path.join(tmp, "b.zip"), "w") as zf:
            buf = io.BytesIO()
            df2.to_csv(buf, index=False, encoding="UTF-8")
            zf.writestr("utf8_part.csv", buf.getvalue())
            # a member MISSING the qty column: its rows must surface with
            # NULL qty (skip-bad-data contract), not KeyError the task
            zf.writestr("short.csv", b"code\nz9\n")
            # an unparseable member: skipped, not job-fatal
            zf.writestr("garbage.csv", b"\x00\x01\x02 not a csv at all")
        got = (
            read_zipped_csvs(spark, f"{tmp}/*.zip", schema)
            .toPandas()
            .sort_values(["code"])
            .reset_index(drop=True)
        )
        want = (
            pd.concat([df1, df2, pd.DataFrame({"code": ["z9"], "qty": [None]})])
            .astype({"qty": "float64"})
            .sort_values(["code"])
            .reset_index(drop=True)
        )
        got["qty"] = got["qty"].astype("float64")
        assert got.equals(want)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_session_windows_match_batch(spark):
    """Native session_window sessions: the streaming run (append mode,
    watermark-finalized sessions only) must equal the batch run of the
    SAME function, restricted to sessions the final watermark closed
    (no event can extend a session once watermark > session_end)."""
    import pandas as pd

    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.streaming import (
        session_stats,
        stream_events,
    )

    sess = session_stats(stream_events(spark, SF), watermark="5 minutes")
    assert sess.isStreaming
    q = (
        sess.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, session_start, session_end, n_events, value_total"
        " FROM session_test"
    ).toPandas()
    want = session_stats(load_table(spark, SF, "events")).toPandas()
    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    cutoff = pd.Timestamp(max_ts) - pd.Timedelta(minutes=5)
    want = want[want["session_end"] <= cutoff]
    key = ["user_id", "session_start"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert got.equals(want)


def test_jsonl_roundtrip_with_corrupt_quarantine(spark, tmp_path):
    """JSONL write → corrupt two lines in place → PERMISSIVE read with
    explicit schema: clean rows parse exactly, corrupt lines land whole
    in the quarantine split, nothing is dropped."""
    import glob
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.sources.ingest import (
        read_jsonl,
        split_quarantine,
        write_jsonl,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text"
    )
    n_docs = docs.count()
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs.coalesce(1), out)

    part = glob.glob(f"{out}/part-*.json")[0]
    with open(part) as fh:
        lines = fh.read().splitlines()
    lines[1] = lines[1][:-5] + "oops"   # truncated JSON
    lines[3] = "not json at all {{{"
    with open(part, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    # drop hadoop's checksum sidecars: the in-place corruption would
    # otherwise fail the read with ChecksumException before the JSON
    # parser (whose corrupt-record path is what we are testing) runs
    for crc in glob.glob(f"{out}/.*.crc"):
        os.remove(crc)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    df = read_jsonl(spark, out, schema=schema)
    clean, bad = split_quarantine(df)
    assert clean.count() == n_docs - 2
    assert bad.count() == 2
    assert set(clean.columns) == {"doc_id", "source", "text"}
    # quarantined rows carry the raw line for replay
    quarantined = {r["_corrupt_record"] for r in bad.collect()}
    assert "not json at all {{{" in quarantined
    # clean rows parsed exactly (values, not just counts)
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in clean.collect():
        assert orig[r["doc_id"]] == r["text"]

    # schema-inference path (no explicit schema) on an all-clean file
    clean_dir = str(tmp_path / "clean_jsonl")
    write_jsonl(docs.coalesce(1), clean_dir)
    inferred = read_jsonl(spark, clean_dir)
    assert "_corrupt_record" in inferred.columns
    assert inferred.filter(inferred["_corrupt_record"].isNotNull()).count() == 0


def test_streaming_hll_sink_matches_batch(spark):
    """Streaming HLL maintenance: per-micro-batch register partials
    merged into the store must give EXACTLY the batch sketch of the full
    corpus (register merge is max — order- and boundary-independent),
    and a replayed batch must be a no-op."""
    import shutil
    import tempfile

    from quantitative_database_and_visualization_platform_spark.pipeline.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.streaming import (
        read_hll_estimates,
        start_hll_sink,
    )
    from quantitative_database_and_visualization_platform_spark.streaming.hll_sink import (
        start_hll_sink as _sink,
    )

    tmp = tempfile.mkdtemp(prefix="qdvp_hll_")
    try:
        ev = load_table(spark, SF, "events").select("event_type", "user_id")
        ev.repartition(4).write.parquet(f"{tmp}/in")
        stream = (
            spark.readStream.schema(spark.read.parquet(f"{tmp}/in").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        q = start_hll_sink(stream, f"{tmp}/store")
        q.awaitTermination(120)
        got = {
            r["event_type"]: (r["registers_hit"], r["hll_estimate"])
            for r in read_hll_estimates(spark, f"{tmp}/store").collect()
        }
        want = {
            r["event_type"]: (r["registers_hit"], r["hll_estimate"])
            for r in hll_estimate_from_registers(
                hll_registers(ev, "event_type", "user_id"), "event_type"
            ).collect()
        }
        assert got == want and len(got) > 2

        # replay the same input through a fresh stream against the SAME
        # store (fresh checkpoint → batch ids restart at 0, all <= the
        # stored high-water mark): every batch must be skipped and the
        # store unchanged
        stream2 = (
            spark.readStream.schema(spark.read.parquet(f"{tmp}/in").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        import shutil as _sh

        _sh.rmtree(f"{tmp}/store_ckpt", ignore_errors=True)
        q2 = _sink(stream2, f"{tmp}/store")
        q2.awaitTermination(120)
        got2 = {
            r["event_type"]: (r["registers_hit"], r["hll_estimate"])
            for r in read_hll_estimates(spark, f"{tmp}/store").collect()
        }
        assert got2 == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_parquet_schema_evolution_roundtrip(spark, tmp_path):
    """Additive schema evolution: files written before a column existed
    read back as NULL for that column, files after carry it; row count
    and values survive exactly."""
    from pyspark.sql import functions as F

    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.sources.ingest import (
        read_parquet_evolved,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "evolved")
    v1 = docs.select("doc_id", "source").filter(F.col("doc_id") % 2 == 0)
    v2 = docs.select("doc_id", "source", "lang").filter(F.col("doc_id") % 2 == 1)
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)

    merged = read_parquet_evolved(spark, out)
    assert set(merged.columns) == {"doc_id", "source", "lang"}
    assert merged.count() == docs.count()
    # pre-evolution rows surface the new column as NULL
    nulls = merged.filter(F.col("lang").isNull())
    assert nulls.count() == v1.count()
    assert {r["doc_id"] % 2 for r in nulls.collect()} == {0}
    # post-evolution rows keep their values exactly
    want = {r["doc_id"]: r["lang"] for r in v2.collect()}
    got = {
        r["doc_id"]: r["lang"]
        for r in merged.filter(F.col("lang").isNotNull()).collect()
    }
    assert got == want


def test_stream_stream_outer_join_matches_batch(spark):
    """LEFT OUTER stream-stream interval join: matched rows must equal
    the batch twin exactly; null (unmatched-click) rows must appear for
    every click whose join window the FINAL watermark provably closed,
    and never for a click that has a batch match."""
    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.streaming import (
        click_purchase_outer_join,
        stream_events,
    )

    ev_stream = stream_events(spark, SF)
    joined = click_purchase_outer_join(
        ev_stream.filter(F.col("event_type") == "click"),
        ev_stream.filter(F.col("event_type") == "purchase"),
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ssoj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssoj_test").toPandas()

    ev = load_table(spark, SF, "events")
    want = click_purchase_outer_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    ).toPandas()

    key = ["click_id", "purchase_id"]
    gm = got[got["purchase_id"].notna()].sort_values(key).reset_index(drop=True)
    wm = want[want["purchase_id"].notna()].sort_values(key).reset_index(drop=True)
    assert len(gm) == len(wm) > 0
    assert gm.equals(wm)

    import pandas as pd

    # the GLOBAL watermark is the MIN across both input watermarks
    # (multipleWatermarkPolicy=min): each side's watermark derives from
    # its OWN max event time, so the closure predicate must use the
    # smaller of the two (the last click itself can never be declared
    # unmatched — its own side's watermark stops at it)
    side_max = [
        ev.filter(F.col("event_type") == t)
        .agg(F.max(F.col("ts").cast("timestamp")))
        .collect()[0][0]
        for t in ("click", "purchase")
    ]
    final_wm = min(side_max) - pd.Timedelta("5 minutes")
    got_null = set(got.loc[got["purchase_id"].isna(), "click_id"])
    want_null = want[want["purchase_id"].isna()]
    # strictly-closed unmatched clicks MUST have a null row — with a
    # 1-minute margin: the state-eviction comparison at the exact
    # watermark boundary is implementation-defined (>= vs >), so the
    # red-line stays clear of it
    closed = want_null[
        want_null["click_ts"] + pd.Timedelta("11 minutes") < final_wm
    ]
    missing = set(closed["click_id"]) - got_null
    assert missing == set(), f"{len(missing)} closed unmatched clicks never emitted"
    # ...and no emitted null row may contradict the batch join
    assert got_null <= set(want_null["click_id"])
    assert len(got_null) > 0


def test_streaming_funnel_matches_batch_across_microbatches(spark):
    """The stateful streaming windowFunnel must reproduce the batch
    query's level histogram when each user's events arrive time-ordered
    across micro-batches: events are split into three time-range files
    and streamed one file per trigger, so the DP state genuinely carries
    across batch boundaries (an availableNow single-file run would
    trivialize the test)."""
    import os

    from quantitative_database_and_visualization_platform_spark.plans import QUERIES
    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.streaming import (
        streaming_funnel_levels,
    )

    ev = load_table(spark, SF, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cuts = ev.selectExpr(
        "percentile(CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE),"
        " array(0.33, 0.66)) AS c"
    ).collect()[0]["c"]
    tmp = tempfile.mkdtemp(prefix="qdvp_funnel_")
    try:
        t = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
        for i, (lo, hi) in enumerate(
            [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
        ):
            part = ev
            if lo is not None:
                part = part.filter(t > lo)
            if hi is not None:
                part = part.filter(t <= hi)
            # file-source order follows modification time; name them too
            part.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/b{i}")
        files_dir = f"{tmp}/stream"
        os.makedirs(files_dir)
        import time as _time

        base = _time.time()
        for i in range(3):
            src = next(
                f for f in os.listdir(f"{tmp}/b{i}") if f.endswith(".parquet")
            )
            dst = f"{files_dir}/part-{i}.parquet"
            shutil.copy(f"{tmp}/b{i}/{src}", dst)
            # FileStreamSource orders micro-batches by MODIFICATION TIME,
            # not path — near-simultaneous copies get nondeterministic
            # ordering and feed batches out of time order (violating the
            # operator's ordering contract). Pin strictly increasing
            # mtimes so batch i is genuinely the i-th time slice.
            os.utime(dst, (base + 10 * i, base + 10 * i))
        schema = spark.read.parquet(files_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(files_dir)
        )
        levels = streaming_funnel_levels(stream)
        assert levels.isStreaming
        q = (
            levels.writeStream.format("memory")
            .queryName("funnel_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got_pd = spark.sql("SELECT * FROM funnel_test").toPandas()
        # update mode: last row per user is the final level
        final = got_pd.groupby("user_id").tail(1)
        from collections import Counter

        got = Counter(final["funnel_level"])
        want = {
            r["funnel_level"]: r["n_users"]
            for r in QUERIES["window_funnel_steps"](spark, SF).collect()
        }
        # the batch histogram's level-0 bucket additionally counts users
        # with NO chain-type events at all (the streaming operator never
        # sees them); levels 1-3 must match exactly
        for lv in (1, 2, 3):
            assert got.get(lv, 0) == want.get(lv, 0), (lv, got, want)
        assert sum(got[lv] for lv in (1, 2, 3) if lv in got) > 0
        # and state genuinely crossed batches: at least one user's level
        # was emitted more than once (multiple micro-batches touched it)
        assert (got_pd.groupby("user_id").size() > 1).any()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_span_anchors_match_batch(spark):
    """Streaming ExactSubstr twin (r13): documents delivered across >= 3
    micro-batches through the span-anchor sink must yield EXACTLY the
    batch repeated_span_pairs output — anchors are deterministic in the
    text and the pair rollup is shared code, so parity is to the bit.
    A replayed stream (fresh checkpoint, same store) must be a no-op."""
    import shutil
    import tempfile

    from quantitative_database_and_visualization_platform_spark.plans.pipeline_queries import (
        repeated_span_pairs,
    )
    from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table
    from quantitative_database_and_visualization_platform_spark.streaming import (
        read_span_pairs,
        start_span_anchor_sink,
    )

    def canon(df):
        return sorted(
            (r["doc_a"], r["doc_b"], r["shared_spans"], r["span_frac"])
            for r in df.collect()
        )

    tmp = tempfile.mkdtemp(prefix="qdvp_span_")
    try:
        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        # >= 3 micro-batches: one input file per trigger
        docs.repartition(3).write.parquet(f"{tmp}/in")
        stream = (
            spark.readStream.schema(spark.read.parquet(f"{tmp}/in").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        q = start_span_anchor_sink(stream, f"{tmp}/store")
        q.awaitTermination(180)
        want = canon(repeated_span_pairs(spark, SF))
        got = canon(read_span_pairs(spark, f"{tmp}/store"))
        assert got == want and len(want) > 0

        # replay: fresh checkpoint restarts batch ids at 0 — every batch
        # is <= the stored high-water mark and must be skipped
        shutil.rmtree(f"{tmp}/store_ckpt", ignore_errors=True)
        stream2 = (
            spark.readStream.schema(spark.read.parquet(f"{tmp}/in").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in")
        )
        q2 = start_span_anchor_sink(stream2, f"{tmp}/store")
        q2.awaitTermination(180)
        assert canon(read_span_pairs(spark, f"{tmp}/store")) == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
