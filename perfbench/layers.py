"""Measurement helpers: process counters from ``/proc``, Spark counters
over py4j, and the in-memory span recorder of the traced run.

Nothing here needs a package beyond the standard library and PySpark:
CPU seconds and peak RSS come from ``/proc/<pid>/stat`` and
``/proc/<pid>/status`` of the Python process and of the driver JVM,
and job, stage and task figures come from the Spark status store.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time

from py4j.protocol import Py4JError

CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` and its reaped children."""
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after ")"
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(v) for v in fields[11:15]) / CLK_TCK


def proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def proc_age_s(pid: int) -> float:
    """Seconds since ``pid`` started (10 ms resolution)."""
    with open(f"/proc/{pid}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


class SparkCounters:
    """Cumulative driver-JVM counters read over py4j.

    In ``local[N]`` mode the executors live in the driver JVM, so its
    GC beans, codegen counter and CPU time cover all task work."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.py_pid = os.getpid()

    def cpu_s(self) -> float:
        return proc_cpu_s(self.jvm_pid) + proc_cpu_s(self.py_pid)

    def peak_rss_mb(self) -> float:
        kb = proc_status_kb(self.jvm_pid, "VmHWM") + proc_status_kb(self.py_pid, "VmHWM")
        return kb / 1024

    def jobs_started(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def gc_s(self) -> float:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans) / 1000

    def codegen_compiles(self) -> int:
        return int(self._codegen.getCount())

    def persisted_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def stage_totals(self, first_job: int, end_job: int) -> dict:
        """Stage and task aggregates over jobs ``[first_job, end_job)``,
        from the status store (each stage counted once)."""
        store = self._jsc.statusStore()
        stage_ids = set()
        for job in range(first_job, end_job):
            try:
                ids = store.job(job).stageIds().mkString(",")  # a Scala Seq
            except Py4JError:  # job evicted from the store
                continue
            stage_ids.update(int(s) for s in ids.split(",") if s)
        tot = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "input_mb", "shuffle_write_mb", "spill_mb"), 0
        )
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:  # skipped stage: never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["task_run_s"] += st.executorRunTime() / 1e3
            tot["task_cpu_s"] += st.executorCpuTime() / 1e9
            tot["input_mb"] += st.inputBytes() / 2**20
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return tot


class Tracer:
    """Spans kept in memory: name, start, end, parent and op id.

    A span opened on a thread without an open span of its own (the
    depth-first fit's sibling threads) takes the innermost span open on
    the main thread as its parent. When ``enabled`` is False ``span``
    and wrapped functions add nothing, so the untraced run pays
    nothing."""

    def __init__(self, enabled: bool, jobs_started=None):
        self.enabled = enabled
        self.jobs_started = jobs_started
        self.spans: list = []
        self.op = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list = []
        self._main = threading.get_ident()

    def _stack(self) -> list:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        stack.append(sid)
        # top-level spans run one at a time, so the jobs started during
        # one of them are exactly the jobs it fired
        jobs0 = self.jobs_started() if parent is None and self.jobs_started else None
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if jobs0 is not None:
                attrs["jobs"] = self.jobs_started() - jobs0
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": self.op, **attrs}
            )

    def wrap(self, module, attr: str, name: str, job_group=None):
        """Replace ``module.attr`` by a function that records a span
        named ``name`` around each call. With ``job_group(op)``, the
        Spark jobs the call fires on its thread are tagged with that
        job group, so they can be counted even when calls overlap."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name):
                if job_group is None:
                    return original(*args, **kwargs)
                with job_group(self.op):
                    return original(*args, **kwargs)

        setattr(module, attr, traced)

    def op_spans(self, op) -> list:
        return [s for s in self.spans if s["op"] == op]


@contextlib.contextmanager
def local_property(sc, key: str, value: str):
    """Set a Spark local property on the calling thread, then restore it."""
    old = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try:
        yield
    finally:
        sc.setLocalProperty(key, old)


def union_s(spans) -> float:
    """Wall seconds covered by at least one of ``spans``."""
    total, cur_start, cur_end = 0.0, None, None
    for s in sorted(spans, key=lambda s: s["start"]):
        if cur_end is None or s["start"] > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s["start"], s["end"]
        else:
            cur_end = max(cur_end, s["end"])
    if cur_end is not None:
        total += cur_end - cur_start
    return total
