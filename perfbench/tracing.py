"""Probes and spans for the benchmark's traced run.

Everything here reads state from outside the program: Spark's status
stores over py4j, the JVM's GC MXBeans and ``/proc``. Reads happen
between jobs, never inside one. A :class:`Tracer` wraps each call into
a package layer in a span, forces the layer's output to materialize at
its boundary so lazy work is charged to the layer that owns it, and
keeps the spans in memory until the run writes them out.

Span records carry the fields of the planned in-package ``traced(tag)``
record (job group tag, build time, jobs, stages, executor CPU split
into JVM and Python worker time, shuffle, spill, GC), so tracing inside
the package can later replace these spans without a format change.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

MB = 1024 * 1024
_HZ = os.sysconf("SC_CLK_TCK")

# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                tree[int(st[1])].append(int(name))
    return tree


def descendants(root: int) -> list[int]:
    tree = _children()
    out, todo = [], [root]
    while todo:
        for child in tree.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _HZ


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def busy_cores(sec: float) -> float:
    """Busy cores over ``sec`` seconds from /proc/stat. Sampled while
    this benchmark is idle, it counts only other tenants' load."""

    def busy() -> int:
        with open("/proc/stat", encoding="ascii") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals) - vals[3] - vals[4]

    b0, t0 = busy(), time.monotonic()
    time.sleep(sec)
    return (busy() - b0) / ((time.monotonic() - t0) * _HZ)


class Procs:
    """The driver JVM and its Python worker processes."""

    def __init__(self) -> None:
        self.jvm: int | None = None

    def _find(self) -> tuple[int | None, list[int]]:
        jvm, workers = self.jvm, []
        for pid in descendants(os.getpid()):
            cmd = _cmdline(pid)
            if jvm is None and "java" in cmd.split(" ", 1)[0]:
                jvm = pid
            elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                workers.append(pid)
        self.jvm = jvm
        return jvm, workers

    def py_cpu_s(self) -> float:
        """CPU seconds of the Python workers, reaped ones included (a
        reaped worker's time moves into its parent's child counters)."""
        ticks = 0
        for pid in self._find()[1]:
            st = _stat(pid)
            if st is not None:
                ticks += sum(int(x) for x in st[11:15])
        return ticks / _HZ

    def peak_rss_mb(self) -> tuple[float, list[float]]:
        """(JVM ``VmHWM``, ``VmHWM`` of each live Python worker)."""
        jvm, workers = self._find()
        return (vm_hwm_mb(jvm) if jvm else 0.0), [vm_hwm_mb(p) for p in workers]


# ---------------------------------------------------------- status stores


class Probe:
    """Reads Spark's status store, SQL status store and GC MXBeans."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.spark = spark
        self.store = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._quant = sc._gateway.new_array(sc._jvm.double, 0)
        self._gc = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self.procs = Procs()

    def gc_s(self) -> float:
        ms, it = 0, self._gc.iterator()
        while it.hasNext():
            ms += it.next().getCollectionTime()
        return ms / 1000.0

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict:
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(
            ("stages", "executor_run_s", "jvm_cpu_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"), 0.0
        )
        for sid in stage_ids:
            attempts = self.store.stageData(sid, False, self._empty, False, self._quant)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["executor_run_s"] += sd.executorRunTime() / 1e3
                tot["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["shuffle_read_mb"] += (sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()) / MB
                tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                tot["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                tot["input_mb"] += sd.inputBytes() / MB
                tot["output_mb"] += sd.outputBytes() / MB
        return tot

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def last_execution(self) -> int:
        execs = self._sql_store().executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def join_rows_since(self, exec_id: int) -> int:
        """Rows produced by join operators in SQL executions after
        ``exec_id``: the candidate pairs a pair-generating layer built
        before its filters, from Spark's own SQL metrics."""
        ss = self._sql_store()
        execs = ss.executionsList()
        total = 0
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= exec_id:
                break
            values = ss.executionMetrics(eid)
            nodes = ss.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if "Join" not in node.name():
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() == "number of output rows":
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", ""))
        return total


# ------------------------------------------------------------------ spans

SPAN_SUMS = (
    "wall_s", "build_s", "build_jobs", "jobs", "stages", "executor_run_s", "jvm_cpu_s",
    "py_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
    "output_mb", "gc_s", "rows_out", "join_rows",
)


class Passthrough:
    """The untraced form of :class:`Tracer`: calls straight through."""

    def call(self, layer: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)


class Tracer:
    """Records one span per layer call of a pass."""

    def __init__(self, probe: Probe, pass_id: str, t0: float) -> None:
        self.probe = probe
        self.pass_id = pass_id
        self.t0 = t0
        self.spans: list[dict] = []
        self._seq = 0

    def call(self, layer: str, fn, *args, **kwargs):
        from pyspark.sql import DataFrame

        p = self.probe
        self._seq += 1
        tag = f"{self.pass_id}/{self._seq:02d}:{layer}"
        p.sc.setJobGroup(tag, f"{layer} {fn.__name__}")
        gc0, py0, eid0 = p.gc_s(), p.procs.py_cpu_s(), p.last_execution()
        start = time.perf_counter()
        out = fn(*args, **kwargs)
        built = time.perf_counter()
        build_jobs = len(p.jobs(tag))
        # eager checkpoints: the layer's own work stays in its span
        if isinstance(out, DataFrame):
            out = out.localCheckpoint()
        elif isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
            out = (out[0].localCheckpoint(), *out[1:])
        end = time.perf_counter()
        jobs = p.jobs(tag)
        span = {
            "name": layer,
            "call": f"{fn.__module__}.{fn.__qualname__}",
            "tag": tag,
            "pass_id": self.pass_id,
            "parent": self.pass_id,
            "start": start - self.t0,
            "end": end - self.t0,
            "wall_s": end - start,
            "build_s": built - start,
            "build_jobs": build_jobs,
            "jobs": len(jobs),
            "gc_s": p.gc_s() - gc0,
            "py_cpu_s": p.procs.py_cpu_s() - py0,
            "join_rows": p.join_rows_since(eid0),
            **p.stage_totals(jobs),
        }
        frame = out[0] if isinstance(out, tuple) else out
        span["rows_out"] = frame.count() if isinstance(frame, DataFrame) else 0
        self.spans.append(span)
        p.sc.setJobGroup(f"{self.pass_id}/idle", "between layers")
        return out

    def layers(self) -> dict[str, dict]:
        """Per-layer sums over this pass's spans."""
        out: dict[str, dict] = {}
        for s in self.spans:
            rec = out.setdefault(s["name"], dict.fromkeys(SPAN_SUMS, 0.0))
            for k in SPAN_SUMS:
                rec[k] += s[k]
        return out
