"""quantspark benchmark.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed, sets the engine up
several times, runs one closed-loop client for about --seconds, checks every
output against its reference outside the timed region and prints one
JSON object as the last line of stdout. With --trace 0 it holds the
end-to-end metrics; with --trace 1 the per-layer metrics of a traced
run, which also repeats its timed work untraced to report the tracing
overhead. Everything the run writes stays under .perfbench/ in the
checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import time

from workloads import PLAN_MODULES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "session.checkpoint_s": "s", "session.checkpoint_calls": "count",
    "factors.bars_build_s": "s",
    "sources.load_table_s": "s", "sources.load_table_calls": "count",
    "plans.construct_s": "s",
    "catalyst.analyze_s": "s", "catalyst.optimize_s": "s", "catalyst.plan_s": "s",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    **{f"plans.{m}.exec_s": "s" for m in PLAN_MODULES},
    "shared.lookups": "count", "shared.builds": "count", "shared.hit_ratio": "ratio",
    "streaming.bars.batch_p50_s": "s", "streaming.rollup.batch_p50_s": "s",
    "streaming.batches": "count", "streaming.source_s": "s",
    "streaming.query_planning_s": "s", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count", "streaming.late_rows": "count",
    "streaming.late_share": "ratio", "streaming.commit_store_s": "s",
    "host.external_cpu_s": "s", "host.peak_rss_mb": "MB",
    "trace.span_gap_max": "ratio",
    "trace.traced_wall_s": "s", "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
}
# another process used on average more than this many cores during the
# timed region (the count includes time the hypervisor stole)
CONTENDED_CORES = 0.25
# The JVM the run starts. Three choices keep a one-minute run steady:
# - C1 only: with C2 the compiler threads keep about two of four cores
#   busy for the whole run, so the timings mix program and JIT progress,
#   and a loaded host slows both. C1 settles within the first warm pass.
# - a code cache large enough that the sweeper never flushes compiled
#   code mid-run, which showed as one pass in three or four taking 1.7x.
# - a fixed heap touched at start-up (inside the first set-up, outside the
#   timed region): a heap that grows mid-run maps fresh memory, and on a
#   VM that hands freed pages back to its host that reads as 1.5-2x
#   slower passes that vary from run to run.
HEAP = "2g"
JVM_OPTIONS = ("-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=1g "
               f"-Xms{HEAP} -XX:+AlwaysPreTouch")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not args.seconds > 0:
        p.error("--seconds must be positive")
    return args


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point Spark, its Python workers and every temp dir at the checkout.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the program by module path: without the root
    # on their PYTHONPATH every mapInPandas query fails inside its tasks
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["TMPDIR"] = tmp
    # the program's own knob for spark.driver.memory, the JVM's -Xmx
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} {JVM_OPTIONS}" pyspark-shell'
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    prepare_env(work)
    try:
        import quantitative_database_and_visualization_platform_spark  # noqa: F401
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import hostcpu
    import workloads
    from spans import JvmCounters, Tracer, instrument

    tracer = Tracer() if args.trace else None
    wl = WORKLOADS[args.workload](args.seed, args.seconds, work, tracer)
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "cpus": cpu_count()}
    phases = record["phases_s"] = {"start": time.perf_counter()}
    try:
        with instrument(tracer) if tracer else contextlib.nullcontext():
            wl.make_inputs()
            phases["inputs"] = time.perf_counter()
            record["setup_s"] = wl.setup()
            phases["setup"] = time.perf_counter()
            wl.prepare()
            phases["prepare"] = time.perf_counter()
            jvm = JvmCounters(wl.spark) if tracer else None
            window = hostcpu.CpuWindow()
            window.start()
            with wl.span("timed") as root:
                result = wl.timed(jvm=jvm)
            record["host"] = window.stop()
            phases["timed"] = time.perf_counter()
        record["peak_rss_mb"] = hostcpu.tree_peak_rss_mb()
        if tracer:
            # tracing overhead: the last repetition again, traced between
            # two untraced runs, so the engine warming further between
            # them favours neither side
            last = result["replay"][-1:]
            before = wl.timed(replay=last)["wall_s"]
            with instrument(tracer):
                record["traced_wall_s"] = wl.timed(replay=last, jvm=jvm)["wall_s"]
            record["untraced_wall_s"] = (before + wl.timed(replay=last)["wall_s"]) / 2
        oracle = workloads.Oracle(wl.sf_dir, os.path.join(work, "duckdb"), cpu_count())
        try:
            wl.check(result, oracle)
        finally:
            oracle.close()
        layers = (wl.setup_layers() | wl.layers(root, result)) if tracer else {}
        phases["check"] = time.perf_counter()
    finally:
        wl.stop()
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter()

    e2e = {"setup_s": record["setup_s"], **wl.metrics(result)}
    host = record["host"]
    contended = host["external_cpu_s"] > CONTENDED_CORES * result["wall_s"]
    reps = [{k: r.get(k) for k in ("unit", "wall_s", "work", "latencies", "own_cpu_s", "external_cpu_s")}
            for r in result["reps"]]
    n_ops = sum(len(r["latencies"]) for r in reps)
    record.update(e2e=e2e, reps=reps, wall_s=result["wall_s"], setup_times_s=wl.setup_times, warm_walls_s=wl.warm_walls,
                  build_s=wl.build_s, errors=wl.errors, attempted=wl.attempted,
                  failed=wl.failed, contended=contended)
    if tracer:
        traced, plain = record["traced_wall_s"], record["untraced_wall_s"]
        layers.update({
            "host.external_cpu_s": host["external_cpu_s"],
            "host.peak_rss_mb": record["peak_rss_mb"],
            "trace.traced_wall_s": traced,
            "trace.untraced_wall_s": plain,
            "trace.overhead_s": traced - plain,
            "trace.overhead_share": (traced - plain) / plain if plain > 0 else 0.0,
        })
        record["layers"] = layers
        record["spans"] = tracer.spans

    os.makedirs(os.path.join(ROOT, ".perfbench", "results"), exist_ok=True)
    out_path = os.path.join(ROOT, ".perfbench", "results",
                            f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for err in wl.errors:
        print(f"# failed: {err}", file=sys.stderr)
    # op_p90_s is printed, not bounded: a tick_stream run times 8-25
    # micro-batches, two or fewer beyond the 90th percentile
    print(f"# {args.workload} seed={args.seed}: {n_ops} ops in {len(reps)} repetitions, "
          f"{result['wall_s']:.2f} s, "
          f"error_rate={wl.failed / max(wl.attempted, 1):.4f} ({wl.failed}/{wl.attempted}), "
          f"external_cpu_s={host['external_cpu_s']} contended={contended} "
          f"peak_rss_mb={record['peak_rss_mb']:.0f}")
    for name, value in workload_aliases(args.workload, e2e).items():
        print(f"# {name} = {value:.6g}")
    if tracer:
        names, units = list(PER_LAYER), PER_LAYER
        values = {n: float(layers.get(n, 0.0)) for n in names}
    else:
        names, units = list(END_TO_END), END_TO_END
        values = {n: float(e2e[n]) for n in names}
    for n in names:
        print(f"# {n} = {values[n]:.6g} {units[n]}")
    correct = wl.failed == 0 and all(math.isfinite(v) for v in values.values())
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))
    return 0


def workload_aliases(workload: str, e2e: dict) -> dict[str, float]:
    """The end-to-end metrics under the names a user of each workload knows."""
    if workload == "query_mix":
        return {"query_p50_s": e2e["op_p50_s"], "query_p90_s": e2e["op_p90_s"],
                "queries_per_s": e2e["throughput_per_s"]}
    return {"microbatch_p50_s": e2e["op_p50_s"], "microbatch_p90_s": e2e["op_p90_s"],
            "stream_events_per_s": e2e["throughput_per_s"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
