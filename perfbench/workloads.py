"""The closed-loop workloads: one client, the next op starts when the
previous one ends. An op is one ``convert`` call (ingest) or one query
built by its ``csv2parquet_spark.queries.REGISTRY`` function and
collected to the driver. Every op's output is checked, untimed, right
after it.

A run starts a session ``SETUPS`` times (every session but the last is
stopped), runs one untimed warm pass over every op of the mix, then
times a fixed number of rounds of ops (see ``ROUND_S``). With the tracer
enabled the timed ops run inside spans with their own Spark job groups,
and an ingest run ends with a resolve/write split of the same conversion.

Nothing here ships the engine's package to executors
(``__spark_entry__._ship_package`` writes its zip under ``/tmp``, outside
the checkout): the listed workloads run no Python on executors, and the
launcher puts the repository on the workers' ``PYTHONPATH`` for the ones
that do.
"""

from __future__ import annotations

import io
import os
import random
import statistics
import time
import types
from dataclasses import dataclass, field
from urllib.parse import urlparse

from spans import (Tracer, cpu_ticks, jvm_pid, last_plan_shape, pyworker_cpu_s, run_cpu_s,
                   vm_hwm_mb)

# one key per kind of plan (aggregate, three- and six-way joins, window,
# event sessionizing, runtime bloom filter), so a warm pass and two timed
# passes fit one run
RELATIONAL = (
    "q1_pricing_summary q3_top_revenue_orders q5_local_supplier_volume "
    "window_rank_orders sessionize_events_gap runtime_bloom_filter_join"
).split()
LLM_OPS = (
    "minhash_near_dups simhash_near_dups ngram_jaccard_near_dups "
    "embedding_near_dups tfidf_top_terms dedup_keep_best_quality "
    "content_defined_chunks winnowing_fingerprints multimodal_resize_real "
    "textrank_tokens lpa_copurchase_communities kmeans_train_clusters "
    "bpe_train_merges"
).split()
MIXES = {"query_relational": RELATIONAL, "query_llm_ops": LLM_OPS}
# tables each mix reads, for the tables.resolve_* timings
MIX_TABLES = {
    "query_relational": ("lineitem", "orders", "customer", "supplier", "part",
                         "nation", "region", "events"),
    "query_llm_ops": ("documents", "embeddings", "lineitem"),
}
SETUPS = 3
# ``--seconds`` sets the measured work, not a deadline: one timed round
# (an ingest op, or a pass over the query mix) per this many seconds, at
# least two. Each round is about that long on a quiet 4-vCPU host. Ops keep
# getting cheaper round after round while the JIT compiles, so a fixed
# count keeps every run at the same point of that curve, however loaded
# the host is.
ROUND_S = 4.0


def timed_rounds(seconds: float) -> int:
    return max(2, round(seconds / ROUND_S))


@dataclass
class Ctx:
    work: str          # scratch dir for outputs, under the checkout
    seed: int
    seconds: float
    tracer: Tracer
    spark_conf: dict
    csv: str = ""
    expected: dict = field(default_factory=dict)
    tables: str = ""
    answers: dict = field(default_factory=dict)   # key -> oracle frame
    keys: list = field(default_factory=list)
    mix: str = ""


@dataclass
class Result:
    op_times: list = field(default_factory=list)
    op_cpu: list = field(default_factory=list)   # CPU seconds of each timed op
    op_keys: list = field(default_factory=list)  # query key of each (ingest: "convert")
    steal_share: float = 0.0      # host CPU steal while measuring
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    input_bytes: int = 0          # input bytes of the timed ops
    peak_rss_mb: float = 0.0
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what[:300])


def _steal_share(since: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(total - since[1], 1)


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


# ------------------------------------------------------------- session


def set_up(ctx: Ctx, res: Result, warm):
    """``SETUPS`` rounds of ``get_spark`` (each stops the session before
    it; the first also starts the JVM), then ``warm(spark)`` once: the
    untimed warm pass that pays every op's one-off costs (class loading,
    code generation, the JIT). ``setup_s`` is the median round plus the
    warm pass, in CPU seconds like the ops. A warm pass is not repeated:
    in the same JVM a second one would time warm ops, not set-up. The
    wall-clock figures go to the detail file."""
    from csv2parquet_spark.session import get_spark

    tr = ctx.tracer
    rounds, spark, pid = [], None, 0
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        cpu0 = run_cpu_s(pid)
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = get_spark("perfbench", extra_conf=ctx.spark_conf)
        tr.spark = spark
        pid = jvm_pid(spark)
        rounds.append({"get_spark_s": time.perf_counter() - t0, "cpu_s": run_cpu_s(pid) - cpu0})
        if tr.enabled and ctx.mix:
            res.detail.setdefault("tables_resolve_s", []).append(_table_resolve(ctx, spark))
    cpu0 = run_cpu_s(pid)
    t0 = time.perf_counter()
    with tr.span("session.warm"):
        warm(spark)
    warm_s, warm_cpu = time.perf_counter() - t0, run_cpu_s(pid) - cpu0
    session_cpu = _med(r["cpu_s"] for r in rounds)
    res.setup = {
        "get_spark_s": _med(r["get_spark_s"] for r in rounds),
        "warm_s": warm_s,
        "session_cpu_s": session_cpu,
        "warm_cpu_s": warm_cpu,
        "setup_s": session_cpu + warm_cpu,
        "rounds": rounds,
    }
    return spark


def _table_resolve(ctx: Ctx, spark) -> tuple[list, list]:
    """``tables.table`` timed cold (first resolution in this session), then
    through its memo, for each table the mix reads."""
    from csv2parquet_spark.tables import table

    cold, memo = [], []
    for name in MIX_TABLES[ctx.mix]:
        for label, times in (("cold", cold), ("memo", memo)):
            t0 = time.perf_counter()
            with ctx.tracer.span(f"tables.resolve_{label}"):
                table(spark, ctx.tables, name)
            times.append(time.perf_counter() - t0)
    return cold, memo


# -------------------------------------------------------------- ingest

_PA_TYPES = {
    "Int64": "int64", "Float64": "double", "Date32": "date32[day]",
    "Boolean": "bool", "Utf8": "string", "Date64": "timestamp[us]",
}


def check_ingest(out: str, schema, expected: dict) -> tuple[list[str], dict]:
    """Read the output back with pyarrow: row count, one column sum, and
    the resolved schema against the expected arrow-lattice types."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from csv2parquet_spark.converter.inference import ARROW_TO_SPARK

    problems = []
    arrow_name = {v: k for k, v in ARROW_TO_SPARK.items()}
    got = {f.name: arrow_name.get(f.dataType, repr(f.dataType)) for f in schema.fields}
    if got != expected["types"]:
        problems.append(f"resolved schema {got}")
    files = sorted(os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet"))
    data = ds.dataset(files, format="parquet")
    pa_types = {f.name: str(f.type) for f in data.schema}
    if pa_types != {c: _PA_TYPES[t] for c, t in expected["types"].items()}:
        problems.append(f"parquet types {pa_types}")
    rows = data.count_rows()
    if rows != expected["rows"]:
        problems.append(f"rows {rows} != {expected['rows']}")
    col = expected["sum_column"]
    total = pc.sum(data.to_table(columns=[col])[col]).as_py()
    if total != expected["sum"]:
        problems.append(f"sum({col}) {total} != {expected['sum']}")
    shape = {
        "output_files": len(files),
        "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
        "output_bytes": sum(os.path.getsize(f) for f in files),
    }
    return problems, shape


def _convert(spark, csv: str, out: str, **opts):
    """One ``convert`` with the reference-default full-pass inference;
    returns (resolved schema, what it printed on stdout)."""
    from csv2parquet_spark.converter.convert import ConvertOptions, convert

    sink = io.StringIO()
    schema = convert(spark, csv, out, ConvertOptions(single_file=False, **opts),
                     out=sink, err=io.StringIO())
    return schema, sink.getvalue()


def run_ingest(ctx: Ctx) -> Result:
    res = Result()
    tr = ctx.tracer
    out = os.path.join(ctx.work, "out", "ingest")
    csv_bytes = os.path.getsize(ctx.csv)
    shape: dict = {}

    pid = 0  # the JVM's, once the last session is up

    def one_op(spark, label: str, op: int = 0) -> tuple[float, float] | None:
        """Convert, then check the output untimed. Returns (seconds, CPU
        seconds) of the conversion, or None if it failed."""
        res.attempted += 1
        try:
            cpu0 = run_cpu_s(pid) if pid else 0.0
            t0 = time.perf_counter()
            with tr.span("converter.convert", op, jobs=True):
                schema, _ = _convert(spark, ctx.csv, out)
            dt = time.perf_counter() - t0
            cpu = run_cpu_s(pid) - cpu0 if pid else 0.0
            problems, shape_now = check_ingest(out, schema, ctx.expected)
        except Exception as e:  # a failed op is counted, the loop goes on
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            res.fail(f"{label}: " + "; ".join(problems))
            return None
        shape.update(shape_now)
        return dt, cpu

    spark = set_up(ctx, res, lambda s: one_op(s, "warm"))
    pid = jvm_pid(spark)
    steal0 = cpu_ticks()
    for _ in range(timed_rounds(ctx.seconds)):
        op = tr.next_op()
        py0 = pyworker_cpu_s(pid) if tr.enabled else 0.0
        timed = one_op(spark, f"op{op}", op)
        if timed is None:
            continue
        res.op_times.append(timed[0])
        res.op_cpu.append(timed[1])
        res.op_keys.append("convert")
        res.input_bytes += csv_bytes
        if tr.enabled:
            tr.by_name("converter.convert")[-1].counts["pyworker_cpu_s"] = pyworker_cpu_s(pid) - py0
    res.steal_share = _steal_share(steal0)
    if tr.enabled:
        # after the timed ops, so they see the same JVM warm-up as untraced
        _ingest_split(ctx, spark, out, tr.next_op())
    res.peak_rss_mb = vm_hwm_mb(pid)
    res.detail.update(csv_bytes=csv_bytes, **shape)
    if tr.enabled:
        res.layers = _ingest_layers(tr, csv_bytes, shape)
    return res


def _ingest_split(ctx: Ctx, spark, out: str, op: int) -> None:
    """One conversion split into its layers:
    ``convert(dry=True)`` resolves the schema, then ``convert`` given that
    schema as ``schema_file`` parses and writes."""
    tr = ctx.tracer
    schema_path = os.path.join(ctx.work, "schema.json")
    with tr.span("converter.resolve", op, jobs=True):
        _, schema_json = _convert(spark, ctx.csv, out, dry=True)
    with open(schema_path, "w") as f:
        f.write(schema_json)
    with tr.span("converter.write", op, jobs=True):
        _convert(spark, ctx.csv, out, schema_file=schema_path)


def _ingest_layers(tr: Tracer, csv_bytes: int, shape: dict) -> dict:
    ops = [s for s in tr.by_name("converter.convert") if s.op]
    ws = tr.by_name("converter.write")
    return {
        "converter.resolve_s": _med(s.end - s.start for s in tr.by_name("converter.resolve")),
        "converter.write_s": _med(s.end - s.start for s in ws),
        "converter.parse_tasks": _med(s.counts["first_stage_tasks"] for s in ws),
        "converter.jobs": _med(s.counts["jobs"] for s in ops),
        "converter.input_read_ratio": _med(s.counts["input_bytes"] / csv_bytes for s in ops),
        "converter.exec_cpu_s": _med(s.counts["exec_cpu_s"] for s in ops),
        "converter.gc_s": _med(s.counts["gc_s"] for s in ops),
        "converter.output_files": shape.get("output_files", 0),
        "converter.row_groups": shape.get("row_groups", 0),
        "converter.parquet_bytes_per_csv_byte": shape.get("output_bytes", 0) / csv_bytes,
        "operators.pyworker_cpu_s": _mean(s.counts["pyworker_cpu_s"] for s in ops),
    }


# ------------------------------------------------------------- queries


_UNTRACED = Tracer(enabled=False)


class _Answer:
    """Stands in for a DuckDB connection whose query returns the cached
    oracle frame, so ``tests.oracle_compare.compare`` can be reused."""

    def __init__(self, frame):
        self.frame = frame

    def execute(self, sql):
        return self

    def fetchdf(self):
        return self.frame


def _input_bytes(df) -> int:
    paths = (urlparse(uri).path for uri in df.inputFiles())
    return sum(os.path.getsize(p) for p in paths if os.path.exists(p))


def _check(ctx: Ctx, key: str, pdf, full: bool) -> list[str]:
    """Compare a collected result with the key's oracle answer (every
    registered query has one): with ``full``, value by value and
    order-insensitively as the oracle tests do; else columns and rows."""
    from tests.oracle_compare import compare

    want = ctx.answers[key]
    if full:
        problems = compare(types.SimpleNamespace(toPandas=lambda: pdf), _Answer(want), "")
    elif sorted(pdf.columns) != sorted(want.columns) or len(pdf) != len(want):
        problems = [f"shape {sorted(pdf.columns)} x {len(pdf)} != {sorted(want.columns)} x {len(want)}"]
    else:
        problems = []
    if pdf.empty:
        problems.append("empty result")
    return problems


def run_queries(ctx: Ctx) -> Result:
    from csv2parquet_spark.queries import REGISTRY

    res = Result()
    tr = ctx.tracer

    pid = 0  # the JVM's, once the last session is up
    inputs: dict[str, int] = {}
    per_key: dict[str, list[float]] = {k: [] for k in ctx.keys}

    def one_op(spark, key: str, timed: bool) -> None:
        """Run and check one query; record it if ``timed``."""
        res.attempted += 1
        try:
            cpu0 = run_cpu_s(pid) if timed else 0.0
            dt, df, pdf = _query_op(tr if timed else _UNTRACED, spark, REGISTRY[key].fn, ctx.tables, pid)
            cpu = run_cpu_s(pid) - cpu0 if timed else 0.0
            problems = _check(ctx, key, pdf, full=not timed)
        except Exception as e:  # a failed op is counted, the loop goes on
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            res.fail(f"{key}: " + "; ".join(problems))
            return
        if key not in inputs:
            inputs[key] = _input_bytes(df)
        if timed:
            res.op_cpu.append(cpu)
            res.op_times.append(dt)
            res.op_keys.append(key)
            per_key[key].append(dt)
            res.input_bytes += inputs[key]

    def warm_pass(spark) -> None:
        # every key's first run in a JVM pays one-off costs (code
        # generation, the JIT); the warm pass keeps them out of the samples
        # and compares every key's result in full, once per run
        for key in ctx.keys:
            one_op(spark, key, timed=False)

    spark = set_up(ctx, res, warm_pass)
    pid = jvm_pid(spark)
    steal0 = cpu_ticks()
    rng = random.Random(ctx.seed)
    # whole passes in a seeded order, so every key is sampled equally often
    for _ in range(timed_rounds(ctx.seconds)):
        order = list(ctx.keys)
        rng.shuffle(order)
        for key in order:
            one_op(spark, key, timed=True)
    res.steal_share = _steal_share(steal0)
    res.peak_rss_mb = vm_hwm_mb(pid)
    res.detail["per_key_s"] = {k: _med(v) for k, v in per_key.items()}
    res.detail["input_bytes_per_key"] = inputs
    if tr.enabled:
        cold = [t for c, _ in res.detail["tables_resolve_s"] for t in c]
        memo = [t for _, m in res.detail["tables_resolve_s"] for t in m]
        res.layers = _query_layers(tr)
        res.layers.update({"tables.resolve_cold_s": _med(cold), "tables.resolve_memo_s": _med(memo)})
    return res


def _query_op(tr: Tracer, spark, fn, tables: str, pid: int):
    """One query: build it (the driver-side construction, including the
    eager jobs of iterative operators) and collect its result. Returns
    (seconds, DataFrame, pandas result). With the tracer on, construct,
    plan and execute are separate spans."""
    if not tr.enabled:
        t0 = time.perf_counter()
        df = fn(spark, tables)
        pdf = df.toPandas()
        return time.perf_counter() - t0, df, pdf
    op = tr.next_op()
    t0 = time.perf_counter()
    with tr.span("op", op) as top:
        cpu0 = pyworker_cpu_s(pid)
        with tr.span("queries.construct", op, jobs=True):
            df = fn(spark, tables)
        with tr.span("queries.plan", op):
            df._jdf.queryExecution().executedPlan()
        with tr.span("queries.execute", op, jobs=True) as ex:
            pdf = df.toPandas()
        dt = time.perf_counter() - t0
        ex.counts["plan_bytes"], ex.counts["codegen_share"] = last_plan_shape(spark)
        top.counts["pyworker_cpu_s"] = pyworker_cpu_s(pid) - cpu0
    return dt, df, pdf


def _sum2(a, b, key: str):
    return a.counts[key] + b.counts[key]


def _query_layers(tr: Tracer) -> dict:
    cs, xs = tr.by_name("queries.construct"), tr.by_name("queries.execute")
    both = list(zip(cs, xs))
    return {
        "queries.construct_s": _med(s.end - s.start for s in cs),
        "queries.construct_jobs": _med(s.counts["jobs"] for s in cs),
        "queries.plan_s": _med(s.end - s.start for s in tr.by_name("queries.plan")),
        "queries.plan_bytes": _med(s.counts["plan_bytes"] for s in xs),
        "queries.codegen_share": _med(s.counts["codegen_share"] for s in xs),
        "queries.execute_s": _med(s.end - s.start for s in xs),
        "queries.execute_jobs": _med(s.counts["jobs"] for s in xs),
        "queries.tasks": _med(_sum2(a, b, "tasks") for a, b in both),
        "queries.shuffle_write_bytes": _med(_sum2(a, b, "shuffle_write_bytes") for a, b in both),
        "queries.exec_cpu_s": _med(_sum2(a, b, "exec_cpu_s") for a, b in both),
        "queries.gc_s": _med(_sum2(a, b, "gc_s") for a, b in both),
        # most keys run no Python, so the median would hide the ones that do
        "operators.pyworker_cpu_s": _mean(s.counts["pyworker_cpu_s"] for s in tr.by_name("op")),
    }
