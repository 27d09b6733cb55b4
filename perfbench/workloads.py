"""The benchmark's workloads: set-up, timed region and correctness pass.

Each workload drives the program through its entry points
(`session.get_spark`, `plans.QUERIES`, `streaming.*`) with one
closed-loop client: the next operation starts when the previous one has
finished. With a Tracer the calls are wrapped in spans and engine
counters are read (spans.py); without one only the wall clock is read.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import hostcpu
from spans import PKG, JvmCounters, Tracer

# query_mix draws from this pinned list: one query from each of six plan
# modules other than alpha_queries (one 101-alpha build alone takes over
# a minute), four of them readers of the shared daily-bars table. Readers
# of the other shared tables (shingles, IVF chain, n-gram pairs) are left
# out: their cold builds would add 4-12 s to every run. Every entry has a
# DuckDB oracle in plans.ORACLES.
QUERY_MIX = [
    "cube_nation_segment", "ts_rank_argmax_decay", "weekly_bars_rollup",
    "cross_section_ops", "rolling_beta_market", "text_analysis",
]
PLAN_MODULES = [
    "advanced_queries", "backtest_queries", "crosssection_queries", "factor_queries",
    "longtail_queries", "pipeline_queries", "relational_queries", "window_queries",
]
WARMUP_QUERY = "global_market_stats"
SETUPS = 3  # set-ups per run; setup_s is their median
# untimed query_mix passes before the timed region, the cold one
# included: at least WARM_PASSES and WARM_S seconds of them. The cold pass
# takes about three times a settled one; with the JVM run.py starts,
# passes settle after the first warm one.
WARM_PASSES = 3
WARM_S = 12.0

# tick_stream: the events table cut into STREAM_FILES files, replayed one
# file per micro-batch. A tenth of the events arrive up to DISORDER_US
# late, well inside the 5-minute watermark, so no event is dropped.
STREAM_FILES = 2
DISORDER_US = 120 * 1_000_000
WATERMARK_US = 5 * 60 * 1_000_000


def program(module: str):
    return importlib.import_module(f"{PKG}.{module}")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def check_python_workers(spark) -> None:
    """Fail fast unless Spark's Python workers can import the program."""

    def probe(batches):
        import importlib

        importlib.import_module("quantitative_database_and_visualization_platform_spark")
        yield from batches

    try:
        spark.range(1).mapInPandas(probe, "id long").collect()
    except Exception as exc:  # noqa: BLE001 — any worker failure means the same thing
        raise RuntimeError(
            "Spark's Python workers cannot import the program; put the repository "
            "root on PYTHONPATH before the JVM starts"
        ) from exc


class Oracle:
    """DuckDB over the generated inputs, with at most `threads` threads."""

    def __init__(self, sf_dir: str, spill_dir: str, threads: int) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.answers: dict[str, pa.Table] = {}
        self.con.execute(f"SET temp_directory='{spill_dir}'")
        self.con.execute(f"SET threads={threads}")
        for t in program("sources.catalog").TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def problems(self, name: str, spark_table: pa.Table) -> list[str]:
        if name not in self.answers:
            self.answers[name] = self.con.execute(program("plans").ORACLES[name]).arrow()
        return program("plans.oracle_check").compare(spark_table, self.answers[name])

    def close(self) -> None:
        self.con.close()


class Workload:
    """Run state shared by the workloads: session, inputs, tracer, failures.

    The timed region repeats the workload's unit of work (a pass over the
    pinned queries, a round of the stream) at least `min_reps` times, and
    then while one more of median length ends within the run's seconds.
    `timed` returns the repetitions; each holds its wall time, the work
    it did and the latency of each operation by key (query name,
    micro-batch). Latency percentiles pool every operation of the region
    and throughput is the median over the repetitions, so a burst of
    host load moves them less."""

    name = ""
    min_reps = 1

    def __init__(self, seed: int, seconds: float, work_dir: str, tracer: Tracer | None):
        self.seed, self.seconds, self.work = seed, seconds, work_dir
        self.tracer = tracer
        self.sf_dir = os.path.join(work_dir, "inputs")
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.warm_walls: list[float] = []

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext({})

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        self.errors.append(f"{what}: {msg[:400]}")

    def make_inputs(self) -> None:
        gen.write_inputs(self.seed, self.sf_dir)

    def setup_once(self) -> None:
        with self.span("session.start"):
            self.spark = program("session").get_spark("perfbench")
        with self.span("session.warmup"):
            noop(program("plans").QUERIES[WARMUP_QUERY](self.spark, self.sf_dir))
            program("session").release_managed()

    def setup(self) -> float:
        """Start a session and run the warmup query SETUPS times, each in
        a fresh Spark context, then build what the workload shares; return
        the median start-up plus the build time."""
        self.setup_times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.span("setup"):
                self.setup_once()
            self.setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with self.span("build"):
            self.build()
        self.build_s = time.perf_counter() - t0
        return statistics.median(self.setup_times) + self.build_s

    def build(self) -> None:
        """Shared tables the timed region reads; none by default."""

    def prepare(self) -> None:
        """Untimed work between set-up and the timed region."""

    def timed(self, replay: list | None = None, jvm: JvmCounters | None = None) -> dict:
        """Run repetitions of the workload's unit, at least `min_reps` and
        then each further one only if a repetition of median length still
        ends within `seconds`; or exactly those in `replay`."""
        reps = []
        todo = iter(replay) if replay is not None else self._units()
        t0 = time.perf_counter()
        for unit in todo:
            if replay is None and len(reps) >= self.min_reps:
                typical = statistics.median(r["wall_s"] for r in reps)
                if time.perf_counter() - t0 + typical > self.seconds:
                    break
            window = hostcpu.CpuWindow()
            window.start()
            r0 = time.perf_counter()
            rep = self._rep(unit, jvm)
            rep.update(unit=unit, wall_s=time.perf_counter() - r0, **window.stop())
            reps.append(rep)
        return {"reps": reps, "wall_s": time.perf_counter() - t0, "replay": [r["unit"] for r in reps]}

    def metrics(self, result: dict) -> dict[str, float]:
        """End-to-end metrics of a timed region: latency percentiles over
        every operation it ran, and the median throughput of a
        repetition."""
        lat = [s for rep in result["reps"] for s in rep["latencies"].values()]
        rates = [r["work"] / r["wall_s"] for r in result["reps"] if r["work"]]
        return {
            "op_p50_s": percentile(lat, 50) if lat else math.nan,
            "op_p90_s": percentile(lat, 90) if lat else math.nan,
            "throughput_per_s": statistics.median(rates) if rates else math.nan,
        }

    def setup_layers(self) -> dict[str, float]:
        """Set-up layers: session start-up as the median over set-ups,
        shared-table builds and the checkpoints they make as totals."""
        tr = self.tracer
        setups = tr.find("setup")
        out = {f"{n}_s": statistics.median(tr.total(n, s) for s in setups)
               for n in ("session.start", "session.warmup")}
        out["factors.bars_build_s"] = tr.total("factors.bars_build")
        checkpoints = [c for c in tr.find("session.checkpoint", outermost=False)
                       if any(a["name"] in ("setup", "build") for a in tr.ancestors(c))]
        out["session.checkpoint_s"] = sum(c["end"] - c["start"] for c in checkpoints)
        out["session.checkpoint_calls"] = len(checkpoints)
        return out

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — nothing may outlive the run
                proc.kill()
                proc.wait()


class QueryMix(Workload):
    """sf0.01 inputs; one client sends the pinned queries in seeded order.
    Untimed passes first compile every query and let the JIT settle, so
    the timed passes see a warm engine, as a long-lived session serving
    the same pages does."""

    name = "query_mix"
    min_reps = 3

    def build(self) -> None:
        with self.span("factors.bars_build"):
            program("factors.panel").bars_table(self.spark, self.sf_dir)

    def prepare(self) -> None:
        # registered queries that run pandas UDFs need Spark's Python
        # workers, which fail inside tasks if they cannot import the program
        check_python_workers(self.spark)
        t0 = time.perf_counter()
        for n, names in enumerate(self._units()):
            if n >= WARM_PASSES and time.perf_counter() - t0 >= WARM_S:
                break
            r0 = time.perf_counter()
            self._rep(names, None)
            self.warm_walls.append(time.perf_counter() - r0)

    def _units(self):
        """Passes: seeded permutations of QUERY_MIX, one after another."""
        while True:
            yield [QUERY_MIX[i] for i in self.rng.permutation(len(QUERY_MIX))]

    def _rep(self, names: list[str], jvm: JvmCounters | None) -> dict:
        """One pass. Each query's result is fetched as Arrow, as a page
        would, and kept for the check."""
        lat, outputs = {}, []
        for name in names:
            self.attempted += 1
            try:
                t = time.perf_counter()
                outputs.append((name, self._op(name, jvm)))
                lat[name] = time.perf_counter() - t
            except Exception as exc:  # noqa: BLE001 — count it; the client keeps going
                self.fail(name, exc)
        return {"latencies": lat, "work": len(names), "outputs": outputs}

    def _op(self, name: str, jvm: JvmCounters | None) -> pa.Table:
        session, queries = program("session"), program("plans").QUERIES
        try:
            if jvm is None:
                return queries[name](self.spark, self.sf_dir).toArrow()
            return self._traced_op(name, queries, jvm)
        finally:
            session.release_managed()

    def _traced_op(self, name: str, queries: dict, jvm: JvmCounters) -> pa.Table:
        tr, sc = self.tracer, self.spark.sparkContext
        module = queries[name].__module__.rsplit(".", 1)[-1]
        group = f"perfbench-{len(tr.spans)}"
        with tr.span("op", query=name, module=module) as op:
            with tr.span("plans.construct"):
                df = queries[name](self.spark, self.sf_dir)
            # a fresh QueryExecution: a DataFrame served from a session
            # cache would report the phases of the build that made it.
            # Executing `sel` reuses the phases computed here, so each is
            # timed once and `exec` is execution alone.
            with tr.span("catalyst.analyze"):
                sel = df.select("*")
                qe = sel._jdf.queryExecution()
                qe.analyzed()
            with tr.span("catalyst.optimize"):
                qe.optimizedPlan()
            with tr.span("catalyst.plan"):
                qe.executedPlan()
            with tr.span("exec"):
                sc.setJobGroup(group, name)
                cg0, n0 = jvm.codegen()
                out = sel.toArrow()
                cg1, n1 = jvm.codegen()
            with tr.span("release"):
                program("session").release_managed()
        jobs, stages, tasks = jvm.job_stats(group)
        op.update(codegen_s=cg1 - cg0, compiles=n1 - n0, jobs=jobs, stages=stages, tasks=tasks)
        return out

    def check(self, result: dict, oracle: Oracle) -> None:
        """Compare every fetched result with its DuckDB oracle."""
        for name, got in (o for rep in result["reps"] for o in rep["outputs"]):
            try:
                problems = oracle.problems(name, got)
            except Exception as exc:  # noqa: BLE001
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                self.fail(f"oracle {name}", "; ".join(problems))

    def layers(self, root: dict, result: dict) -> dict[str, float]:
        """Per-layer totals over the timed region `root`."""
        tr = self.tracer
        ops = tr.find("op", root)
        lookups = tr.find("shared.lookup", root, outermost=False)
        builds = sum(1 for s in lookups if s.get("built"))
        out = {
            "plans.construct_s": tr.total("plans.construct", root),
            "sources.load_table_s": tr.total("sources.load_table", root),
            "sources.load_table_calls": len(tr.find("sources.load_table", root, outermost=False)),
            "catalyst.analyze_s": tr.total("catalyst.analyze", root),
            "catalyst.optimize_s": tr.total("catalyst.optimize", root),
            "catalyst.plan_s": tr.total("catalyst.plan", root),
            "codegen.compile_s": sum(o["codegen_s"] for o in ops),
            "codegen.compiles": sum(o["compiles"] for o in ops),
            "exec.s": tr.total("exec", root),
            "exec.jobs": sum(o["jobs"] for o in ops),
            "exec.stages": sum(o["stages"] for o in ops),
            "exec.tasks": sum(o["tasks"] for o in ops),
            "shared.lookups": len(lookups),
            "shared.builds": builds,
            "shared.hit_ratio": (len(lookups) - builds) / len(lookups) if lookups else 0.0,
            "trace.span_gap_max": max((span_gap(tr, o) for o in ops), default=0.0),
        }
        for m in PLAN_MODULES:
            out[f"plans.{m}.exec_s"] = sum(tr.total("exec", o) for o in ops if o["module"] == m)
        return out


def span_gap(tr: Tracer, op: dict) -> float:
    """Share of an op's wall time that its direct child spans leave uncovered."""
    wall = op["end"] - op["start"]
    covered = sum(c["end"] - c["start"] for c in tr.children(op))
    return (wall - covered) / wall if wall > 0 else 0.0


class TickStream(Workload):
    """sf0.01 events replayed as files through both streaming sinks. An
    untimed round over the first file alone compiles the streaming plans;
    the timed region then runs whole rounds."""

    name = "tick_stream"
    rounds_started = 0

    def make_inputs(self) -> None:
        super().make_inputs()
        events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        self.stream_dir = os.path.join(self.work, "stream_in")
        self.warm_dir = os.path.join(self.work, "stream_warm")
        self.n_events = events.num_rows
        cut_stream(events, self.rng, self.stream_dir)
        os.makedirs(self.warm_dir)
        shutil.copy2(os.path.join(self.stream_dir, "part-0000.parquet"), self.warm_dir)

    def prepare(self) -> None:
        # the file source needs a schema; infer it once, untimed
        self.schema = self.spark.read.parquet(self.stream_dir).schema
        self.attempted += 1
        try:
            self._round(0, None, self.warm_dir)
        except Exception as exc:  # noqa: BLE001
            self.fail("warm-up round", exc)

    def _stream(self, path: str):
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        # the conversion `streaming.stream_events` applies to events.ts
        # read as TIMESTAMP(NANOS) nanoseconds
        if dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return stream

    def _units(self):
        return itertools.count()

    def _rep(self, _unit: int, jvm: JvmCounters | None) -> dict:
        """One round: every file through both sinks, each with its own
        checkpoint, store and sink name."""
        self.attempted += 1
        self.rounds_started += 1
        try:
            res = self._round(self.rounds_started, jvm)
        except Exception as exc:  # noqa: BLE001 — count it; the client keeps going
            self.fail(f"round {self.rounds_started}", exc)
            return {"latencies": {}, "work": 0}
        res.update(latencies=batch_latencies(res), work=self.n_events)
        return res

    def _round(self, r: int, jvm: JvmCounters | None, path: str | None = None) -> dict:
        streaming = program("streaming")
        base = os.path.join(self.work, f"round{r}")
        cg0 = jvm.codegen() if jvm else (0.0, 0)
        t0 = time.perf_counter()
        bars = (
            streaming.streaming_minute_bars(self._stream(path or self.stream_dir))
            .writeStream.format("memory")
            .queryName(f"bars_r{r}")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(base, "bars_ckpt"))
            .start()
        )
        bars.awaitTermination()
        t1 = time.perf_counter()
        rollup = streaming.start_rollup_sink(self._stream(path or self.stream_dir),
                                             os.path.join(base, "store"))
        rollup.awaitTermination()
        t2 = time.perf_counter()
        for q in (bars, rollup):
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        cg1 = jvm.codegen() if jvm else (0.0, 0)
        return {"round": r, "store": os.path.join(base, "store"),
                "bars": progress(bars), "rollup": progress(rollup),
                "bars_wall_s": t1 - t0, "rollup_wall_s": t2 - t1,
                "codegen_s": cg1[0] - cg0[0], "compiles": cg1[1] - cg0[1]}

    def check(self, result: dict, oracle: Oracle) -> None:
        """Compare each round's bars with the batch twin `tick_bars_minute`
        over the windows the final watermark closed, and its rollup store
        with `incremental_rollup_maintenance`."""
        import pandas as pd

        queries = program("plans").QUERIES
        cols = ["user_id", "bar_start", "low", "high", "n_ticks", "volume"]
        key = ["user_id", "bar_start"]
        ts = pq.read_table(os.path.join(self.sf_dir, "events.parquet"), columns=["ts"]).column("ts")
        cutoff = pd.Timestamp(pc.max(ts).as_py()) - pd.Timedelta(microseconds=WATERMARK_US)
        want = queries["tick_bars_minute"](self.spark, self.sf_dir).select(*cols).toPandas()
        want = want[want["bar_start"] + pd.Timedelta(minutes=1) <= cutoff]
        want = want.sort_values(key).reset_index(drop=True)
        roll_cols = ["day", "event_type", "event_cnt", "value_total"]
        want_roll = (
            queries["incremental_rollup_maintenance"](self.spark, self.sf_dir)
            .select(*roll_cols).toPandas().sort_values(roll_cols[:2]).reset_index(drop=True)
        )
        read_rollup = program("streaming").read_rollup
        for res in (rep for rep in result["reps"] if rep["work"]):
            r = res["round"]
            got = self.spark.sql(f"SELECT {', '.join(cols)} FROM bars_r{r}").toPandas()
            got = got.sort_values(key).reset_index(drop=True)
            if not (len(got) == len(want) > 0 and got.equals(want)):
                self.fail(f"bars round {r}", f"{len(got)} bars, tick_bars_minute has {len(want)}")
            roll = (
                read_rollup(self.spark, res["store"]).select(*roll_cols)
                .toPandas().sort_values(roll_cols[:2]).reset_index(drop=True)
            )
            if not (len(roll) == len(want_roll) > 0 and roll.equals(want_roll)):
                self.fail(f"rollup round {r}", "store differs from incremental_rollup_maintenance")

    def layers(self, root: dict, result: dict) -> dict[str, float]:
        """Per-layer totals over the timed region `root`."""
        rounds = [rep for rep in result["reps"] if rep["work"]]
        bars = [p for r in rounds for p in r["bars"]]
        roll = [p for r in rounds for p in r["rollup"]]
        every = bars + roll

        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in every) / 1000.0

        def p50(ps: list[dict]) -> float:
            return statistics.median(p["durationMs"]["triggerExecution"] / 1000.0 for p in ps) if ps else 0.0

        def state(key: str) -> list[int]:
            return [sum(op.get(key, 0) for op in p["stateOperators"]) for p in every]

        rows_in = sum(p["numInputRows"] for p in every)
        late = sum(state("numRowsDroppedByWatermark"))
        return {
            "streaming.bars.batch_p50_s": p50(bars),
            "streaming.rollup.batch_p50_s": p50(roll),
            "streaming.batches": len(every),
            "streaming.source_s": dur("latestOffset") + dur("getBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit") + dur("commitOffsets"),
            "streaming.state_commit_s": sum(state("commitTimeMs")) / 1000.0,
            "streaming.state_rows": max(state("numRowsTotal"), default=0),
            "streaming.late_rows": late,
            "streaming.late_share": late / rows_in if rows_in else 0.0,
            "streaming.commit_store_s": self.tracer.total("streaming.commit_store", root),
            "codegen.compile_s": sum(r["codegen_s"] for r in rounds),
            "codegen.compiles": sum(r["compiles"] for r in rounds),
        }


def progress(q) -> list[dict]:
    """Progress of every micro-batch of a finished query (Spark keeps the
    last 100; a pass has far fewer)."""
    return [json.loads(p.json) for p in q.recentProgress]


def batch_latencies(res: dict) -> dict[str, float]:
    """Seconds per micro-batch that read a file, pooled over both sinks
    and keyed by sink and batch."""
    return {f"{sink}.{p['batchId']}": p["durationMs"]["triggerExecution"] / 1000.0
            for sink in ("bars", "rollup") for p in res[sink] if p["numInputRows"] > 0}


def cut_stream(events: pa.Table, rng: np.random.Generator, out_dir: str) -> None:
    """Cut the ts-sorted events into STREAM_FILES files at seed-jittered
    boundaries, after delaying a tenth of them by up to DISORDER_US.

    An event delayed by d sorts after events with ts up to its own ts + d,
    so the watermark it meets (largest ts already read minus 5 minutes)
    stays below its ts: no event is late.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = events.num_rows
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    delay = np.where(rng.random(n) < 0.1, rng.integers(0, DISORDER_US, n), 0)
    order = np.argsort(ts + delay, kind="stable")
    step = n / STREAM_FILES
    cuts = [0] + [int(round(step * (i + rng.uniform(-0.25, 0.25)))) for i in range(1, STREAM_FILES)] + [n]
    for i in range(STREAM_FILES):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        gen.write_table(events.take(order[cuts[i]:cuts[i + 1]]), path)
        # the file source replays files in modification-time order
        os.utime(path, ns=(10**18 + i * 10**9,) * 2)


WORKLOADS = {w.name: w for w in (QueryMix, TickStream)}
