"""Seeded ingest + query-mix benchmark for csv2parquet_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_plain --seed 1 --seconds 8 --trace 0

Workloads: ``ingest_plain``, ``ingest_quoted``, ``query_relational`` and
``query_llm_ops`` (``BENCHMARK.json`` lists the ones the yardstick runs
and why). Each run is one process with one closed-loop client.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` the per-layer
ones, from a run with the Spark UI on and every op inside spans.
``--keys a,b`` replaces a query workload's mix with any registered query
names, so one traced command gives those keys' layer split.

The last stdout line is one JSON object (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it names the settings, the
sample count and the detail file. The full detail and the spans go to
``.perfbench/results/`` under the repository root. Inputs are made from
the seed and cached, checksum-verified, in ``.perfbench/data/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# ingest input: a ~4.8 MB lineitem-shaped CSV, just over the 4 MB that
# Spark's split sizing needs for two parse tasks on any core count
CSV_ROWS = 45_000
TAIL_PERCENTILE = 75

# Ops are measured in CPU seconds (this process, the JVM but for its JIT
# compiler threads, and its Python workers; ``spans.run_cpu_s``): on a
# shared virtual machine, time stolen by neighbours moves
# wall-clock op times far more between runs than it moves CPU time. The
# wall-clock figures go to the detail file.
# The tail (``TAIL_PERCENTILE``) goes to the detail file with the count of
# samples beyond it: a run has too few samples for a steady tail.
E2E = {  # name -> unit
    "setup_s": "s",
    "op_cpu_s_p50": "s",
    "ops_per_cpu_s": "1/s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}
LAYERS = {
    "session.get_spark_s": "s",
    "session.warm_s": "s",
    "tables.resolve_cold_s": "s",
    "tables.resolve_memo_s": "s",
    "converter.resolve_s": "s",
    "converter.write_s": "s",
    "converter.parse_tasks": "count",
    "converter.jobs": "count",
    "converter.input_read_ratio": "ratio",
    "converter.exec_cpu_s": "s",
    "converter.gc_s": "s",
    "converter.output_files": "count",
    "converter.row_groups": "count",
    "converter.parquet_bytes_per_csv_byte": "ratio",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.plan_s": "s",
    "queries.plan_bytes": "bytes",
    "queries.codegen_share": "ratio",
    "queries.execute_s": "s",
    "queries.execute_jobs": "count",
    "queries.tasks": "count",
    "queries.shuffle_write_bytes": "bytes",
    "queries.exec_cpu_s": "s",
    "queries.gc_s": "s",
    "operators.pyworker_cpu_s": "s",
}
WORKLOADS = ("ingest_plain", "ingest_quoted", "query_relational", "query_llm_ops")


def deployment(trace: bool) -> tuple[dict, dict]:
    """Environment and Spark settings of this host, set before the JVM
    starts. Everything the run writes stays under ``.perfbench/``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(WORK, "tmp")
    heap = f"{min(2048, mem_mb // 4)}m"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine's 24g default is larger than many hosts
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files under /tmp, from the launcher JVM of
        # spark-submit as well as from the driver
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    conf = {
        # the UI (and its REST API) only in the traced run
        "spark.ui.enabled": str(trace).lower(),
        "spark.ui.showConsoleProgress": "false",
        # - a fixed heap size (-Xms = the driver memory), so peak memory
        #   does not hang on when the collector grows the heap;
        # - C1 only: C2 keeps recompiling for minutes after start-up, so
        #   the same op runs faster and faster code along a run;
        # - the serial collector: no parallel GC threads spinning while a
        #   neighbour holds the host's cores, and a fixed young generation,
        #   so peak memory is the same for the same work
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    return env, conf


def tail(times: list[float]) -> tuple[float, int]:
    """The ``TAIL_PERCENTILE`` sample (inclusive interpolation, so never
    below the median) and how many samples lie above it."""
    if len(times) < 2:
        return times[0], 0
    value = statistics.quantiles(times, n=100, method="inclusive")[TAIL_PERCENTILE - 1]
    return value, sum(1 for t in times if t > value)


def typical_op(times: list[float], keys: list[str]) -> float:
    """Median of each key's samples, geometric mean over the keys: one
    figure per mix that weighs every key the same and, unlike the median
    of the pooled samples, does not jump between keys of unlike cost."""
    by_key: dict[str, list[float]] = {}
    for k, t in zip(keys, times):
        by_key.setdefault(k, []).append(t)
    return statistics.geometric_mean(statistics.median(v) for v in by_key.values())


def end_to_end(res) -> dict:
    return {
        "setup_s": res.setup["setup_s"],
        "op_cpu_s_p50": typical_op(res.op_cpu, res.op_keys),
        "ops_per_cpu_s": len(res.op_cpu) / sum(res.op_cpu),
        "ok_ratio": (res.attempted - res.failed) / res.attempted,
        "peak_rss_mb": res.peak_rss_mb,
    }


def wall_clock(res) -> dict:
    """The CPU tail and the ops in wall-clock time, for the detail file."""
    busy = sum(res.op_times)
    return {
        f"op_cpu_s_p{TAIL_PERCENTILE}": tail(res.op_cpu)[0],
        "op_s_p50": typical_op(res.op_times, res.op_keys),
        f"op_s_p{TAIL_PERCENTILE}": tail(res.op_times)[0],
        "ops_per_s": len(res.op_times) / busy,
        "input_mb_per_s": res.input_bytes / 1e6 / busy,
        "steal_share": res.steal_share,
    }


def per_layer(res) -> dict:
    """Every layer metric; a layer the workload never calls reads 0."""
    out = dict.fromkeys(LAYERS, 0)
    out["session.get_spark_s"] = res.setup["get_spark_s"]
    out["session.warm_s"] = res.setup["warm_s"]
    out.update(res.layers)
    return out


def overhead(workload: str, seed: int, traced: dict) -> dict | None:
    """Tracing overhead: the traced run's end-to-end figures minus those of
    the untraced run of the same workload and seed, if one was saved."""
    try:
        with open(os.path.join(WORK, "results", f"{workload}-seed{seed}-trace0.json")) as f:
            saved = json.load(f)
        plain = {**saved["end_to_end"], **saved["wall_clock"]}
    except (OSError, ValueError, KeyError):
        return None
    return {k: traced[k] - plain[k] for k in traced if k in plain}


def _stop(spark) -> None:
    """Stop Spark, wait for the JVM it launched to exit and for the
    Python workers the JVM forked to go with it."""
    if spark is None:
        return
    from pyspark import SparkContext

    from spans import child_pids, jvm_pid

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = child_pids(jvm_pid(spark), depth=2)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured work: one timed round per ROUND_S seconds (workloads.py)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", default="", help="comma-separated registry keys (query workloads)")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    env, conf = deployment(trace)
    os.environ.update(env)
    for d in ("tmp", "data", "results", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    sys.path.insert(0, ROOT)
    try:
        from csv2parquet_spark.queries import REGISTRY
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import datagen
    from spans import Tracer
    from workloads import MIXES, Ctx, run_ingest, run_queries

    ctx = Ctx(WORK, args.seed, args.seconds, Tracer(enabled=trace), conf)
    ingest = args.workload.startswith("ingest")
    cache = os.path.join(WORK, "data")
    t0 = time.perf_counter()
    if ingest:
        quoted = args.workload == "ingest_quoted"
        ctx.csv, ctx.expected = datagen.ensure_csv(cache, args.seed, CSV_ROWS, quoted)
    else:
        ctx.mix = args.workload
        ctx.keys = [k for k in args.keys.split(",") if k] or MIXES[args.workload]
        oracles = {k: spec.oracle for k, spec in REGISTRY.items() if spec.oracle}
        unknown = [k for k in ctx.keys if k not in oracles]
        if unknown:
            print(f"perfbench: no such query: {unknown}", file=sys.stderr)
            return 2
        ctx.tables, digest = datagen.ensure_tables(cache)
        ctx.answers = datagen.oracle_answers(
            cache, ctx.tables, digest, {k: oracles[k] for k in ctx.keys}
        )
    gen_s = time.perf_counter() - t0

    try:
        res = run_ingest(ctx) if ingest else run_queries(ctx)
    finally:
        _stop(ctx.tracer.spark)

    if not res.op_times:
        print(f"perfbench: no op succeeded: {res.problems}", file=sys.stderr)
        return 1
    e2e = end_to_end(res)
    metrics = per_layer(res) if trace else e2e
    units = LAYERS if trace else E2E
    wall = wall_clock(res)
    beyond = tail(res.op_cpu)[1]
    over = overhead(args.workload, args.seed, {**e2e, **wall}) if trace else None
    stem = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "keys": ctx.keys,
            "settings": {"env": env, "spark_conf": conf},
            "input_gen_s": gen_s,
            "setup": res.setup,
            "samples": len(res.op_times),
            "op_times_s": res.op_times,
            "op_cpu_s": res.op_cpu,
            "op_keys": res.op_keys,
            "tail": {"percentile": TAIL_PERCENTILE, "samples_beyond": beyond},
            "end_to_end": e2e,
            "wall_clock": wall,
            "per_layer": per_layer(res) if trace else None,
            "trace_overhead": over,
            "problems": res.problems,
            **res.detail,
        }, f, indent=1)
    if trace:
        ctx.tracer.dump(stem + "-spans.json")
    over_txt = "n/a" if over is None else (
        f"{over['op_s_p50']:+.4f}s wall, {over['op_cpu_s_p50']:+.4f}s cpu"
    )
    print(
        f"perfbench: {args.workload} seed={args.seed} samples={len(res.op_times)} "
        f"tail=p{TAIL_PERCENTILE}({beyond} beyond) op_s_p50={wall['op_s_p50']:.4f} "
        f"steal={wall['steal_share']:.3f} cpus={env['SPARK_GRAFT_CPUS']} "
        f"driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} ui={conf['spark.ui.enabled']} "
        f"trace_overhead_op_s_p50={over_txt} detail={os.path.relpath(stem, ROOT)}.json"
    )
    for p in res.problems:
        print(f"perfbench: FAILED {p}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
