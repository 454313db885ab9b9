"""Spans and Spark-side counters for the traced run.

Spans are recorded by the benchmark around its own calls into each layer
(``session``, ``tables``, ``converter``, ``queries``, ``operators``): name,
start, end, parent and op id, kept in memory and written out at the end.
Each span runs under its own Spark job group, so the jobs it triggered are
counted with ``statusTracker()`` and their stages' executor metrics are
read from the REST API of the (traced-run-only) Spark UI.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import urllib.request
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op
    apart from running the body, so the untraced run pays nothing."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0

    def next_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def span(self, name: str, op: int = 0, jobs: bool = False):
        """Record ``name``; with ``jobs=True`` the body runs in its own job
        group and the span's counts get the group's jobs and stage metrics."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if jobs and self.spark is not None else None
        group = f"perfbench-{op}-{len(self.spans)}-{name}"
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                s.counts = job_group_counts(self.spark, group)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _rest(spark, path: str):
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    port = url.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{spark.sparkContext.applicationId}"
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read())


def job_group_counts(spark, group: str) -> dict:
    """Jobs, stages, tasks and executor metrics of one job group."""
    st = spark.sparkContext.statusTracker()
    job_ids = sorted(st.getJobIdsForGroup(group))
    deadline = time.time() + 5
    infos = []
    # the listener bus is asynchronous: wait until every job has ended
    while time.time() < deadline:
        infos = [st.getJobInfo(j) for j in job_ids]
        if all(i is None or i.status != "RUNNING" for i in infos):
            break
        time.sleep(0.02)
    stage_ids = sorted({s for i in infos if i is not None for s in i.stageIds})
    out = {
        "jobs": len(job_ids),
        "stages": 0,
        "tasks": 0,
        "first_stage_tasks": 0,
        "exec_cpu_s": 0.0,
        "gc_s": 0.0,
        "input_bytes": 0,
        "shuffle_write_bytes": 0,
    }
    for sid in stage_ids:
        try:
            attempts = _rest(spark, f"/stages/{sid}?details=false") or []
        except OSError:
            attempts = []
        for a in attempts:
            if a.get("status") == "SKIPPED":
                continue
            if out["stages"] == 0:
                out["first_stage_tasks"] = a.get("numTasks", 0)
            out["stages"] += 1
            out["tasks"] += a.get("numTasks", 0)
            out["exec_cpu_s"] += a.get("executorCpuTime", 0) / 1e9
            out["gc_s"] += a.get("jvmGcTime", 0) / 1e3
            out["input_bytes"] += a.get("inputBytes", 0)
            out["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
    return out


_OP_LINE = re.compile(r"^[\s:+\-|]*(\* )?([A-Za-z][\w ]*?) \(\d+\)")


def last_plan_shape(spark) -> tuple[int, float]:
    """(plan bytes, codegen share) of the most recent SQL execution: the
    share of physical operators of its final plan that run inside
    whole-stage codegen (``*`` in the formatted plan)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    if n == 0:
        return 0, 0.0
    desc = execs.apply(n - 1).physicalPlanDescription()
    body = desc.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==", 1)[0]
    ops = [m for m in map(_OP_LINE.match, body.splitlines()) if m]
    ops = [m for m in ops if not m.group(2).endswith("QueryStage")]
    share = sum(1 for m in ops if m.group(1)) / len(ops) if ops else 0.0
    return len(desc), share


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ticks = os.sysconf("SC_CLK_TCK")
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / ticks


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python daemon and its worker children
    (reaped workers are folded into the daemon's cutime/cstime)."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                stats[int(d)] = st
    total = 0.0
    for ppid, cpu in stats.values():
        # direct children of the JVM are the daemon(s); grandchildren the workers
        if ppid == jvm_pid or stats.get(ppid, (0,))[0] == jvm_pid:
            total += cpu
    return total


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads (kept alive for the
    whole run by ``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                name, _, rest = f.read().rpartition(")")
        except OSError:
            continue
        if "CompilerThre" in name:
            fields = rest.split()
            total += (int(fields[11]) + int(fields[12])) / ticks
    return total


def run_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM (``jvm_pid`` 0:
    none yet) and its Python daemon and workers. Time the hypervisor
    steals is not in it, nor, once the JVM is up, the JIT compiler's: it
    compiles each code path once, on threads of its own, a little more of
    it at every op for the whole run, so it would make every op's figure
    hang on how many ran before it."""
    me = os.times()
    if not jvm_pid:
        return me.user + me.system
    jvm = _proc_stat(jvm_pid)
    if jvm is None:
        return me.user + me.system + pyworker_cpu_s(jvm_pid)
    return me.user + me.system + jvm[1] - jit_cpu_s(jvm_pid) + pyworker_cpu_s(jvm_pid)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the host's CPUs so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def child_pids(pid: int, depth: int = 1) -> list[int]:
    """Descendants of ``pid`` down to ``depth`` generations."""
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                parents[int(d)] = st[0]
    found, level = [], {pid}
    for _ in range(depth):
        level = {p for p, pp in parents.items() if pp in level}
        found.extend(level)
    return sorted(found)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
