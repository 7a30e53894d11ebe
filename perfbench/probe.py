"""Measurement helpers: process-tree CPU/RSS, Spark status-store task
metrics by job group, and the span tracer for the traced run.

Spans are recorded from the benchmark's side only: `Tracer.patch`
wraps functions the job looks up at call time (module attributes it
imports inside its function bodies, and `StageStore` methods) and
restores them afterwards. No program file is touched.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import re
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- process tree -------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its descendants: the
    driver, the JVM it launched and the JVM's Python workers."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of `pids`, including their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_bytes(pids: list[int]) -> dict[str, int]:
    """Resident bytes of `pids` by command name (java, python3, ...)."""
    out: dict[str, int] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/statm") as fh:
                out[comm] = out.get(comm, 0) + int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), in s."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


class TreeSampler:
    """CPU seconds and peak resident memory of the process tree over a
    `with` block; RSS is sampled every `interval` seconds. `steal_s`
    records how much CPU other guests took meanwhile (noise, not cost)."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_rss_bytes = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()

    def _loop(self) -> None:
        n = 0
        pids = process_tree()
        while not self._stop.is_set():
            if n % 20 == 0:  # workers come and go; re-list once a second
                pids = process_tree()
            by_comm = tree_rss_bytes(pids)
            if sum(by_comm.values()) > self.peak_rss_bytes:
                self.peak_rss_bytes, self.peak_by_comm = sum(by_comm.values()), by_comm
            n += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeSampler":
        self._steal0 = host_steal_s()
        self._cpu0 = tree_cpu_s(process_tree())
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s = tree_cpu_s(process_tree()) - self._cpu0
        self.steal_s = host_steal_s() - self._steal0
        self._stop.set()
        self._thread.join()


# --- Spark status store -------------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


def _iter(java_coll):
    it = java_coll.iterator()
    while it.hasNext():
        yield it.next()


_DURATION = re.compile(r"^\s*([\d.,]+)\s*(ms|s|m|h)\b")
_DURATION_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PY_SQL_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}


def spark_metrics(spark) -> dict:
    """Everything the status store knows about finished jobs, grouped by
    job group: {group: {"jobs": [(start_ms, end_ms)], "tasks", "failed",
    "max_task_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "py_boot_s", "py_init_s", "py_run_s"}}. Jobs without
    a group are under ""."""
    sc = spark.sparkContext
    st = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {"jobs": [], "tasks": 0, "failed": 0, "max_task_s": 0.0, "gc_s": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
             "py_boot_s": 0.0, "py_init_s": 0.0, "py_run_s": 0.0},
        )

    for job in _iter(st.jobsList(None)):
        name = _opt(job.jobGroup()) or ""
        job_group[job.jobId()] = name
        start, end = _opt(job.submissionTime()), _opt(job.completionTime())
        if start is not None and end is not None:
            g(name)["jobs"].append((start.getTime(), end.getTime()))
        for sid in _iter(job.stageIds()):
            stage_group[sid] = name
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    for s in _iter(st.stageList(None, False, False, no_quantiles, None)):
        m = g(stage_group.get(s.stageId(), ""))
        m["tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
        m["failed"] += s.numFailedTasks()
        m["gc_s"] += s.jvmGcTime() / 1000
        m["shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        m["input_bytes"] += s.inputBytes()
        for t in _iter(st.taskList(s.stageId(), s.attemptId(), 1 << 30)):
            d = _opt(t.duration())
            if d is not None:
                m["max_task_s"] = max(m["max_task_s"], d / 1000)
    # A cached plan's nodes reappear in every execution that reads the
    # cache, so each accumulator counts once: its largest value, for the
    # group of the execution that reported it.
    sql = spark._jsparkSession.sharedState().statusStore()
    best: dict[int, tuple[float, str, str]] = {}
    for ex in _iter(sql.executionsList()):
        job_ids = [int(k) for k in _iter(ex.jobs().keys())]
        if not job_ids:
            continue
        group = job_group.get(job_ids[0], "")
        values = sql.executionMetrics(ex.executionId())
        for node in _iter(sql.planGraph(ex.executionId()).allNodes()):
            for metric in _iter(node.metrics()):
                key = PY_SQL_METRICS.get(metric.name())
                text = values.get(metric.accumulatorId()) if key else None
                if text is None or not text.isDefined():
                    continue
                # "1.2 s", or "total (min, med, max ...)\n1.2 s (0.1 s, ...)"
                match = _DURATION.match(text.get().splitlines()[-1])
                if match:
                    v = float(match.group(1).replace(",", "")) * _DURATION_S[match.group(2)]
                    if v > best.get(metric.accumulatorId(), (-1.0,))[0]:
                        best[metric.accumulatorId()] = (v, group, key)
    for v, group, key in best.values():
        g(group)[key] += v
    return groups


def busy_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi] (ms)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id). A span's name
    is also the Spark job group while it is open, so the status store
    attributes its jobs to it."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.counting = True  # layer wrappers add counts while True
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run_id": self.run_id, "id": len(self.spans),
               "parent": parent["id"] if parent else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(name, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["name"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def inside(self, name: str) -> bool:
        """Whether a span named `name` is open."""
        return any(rec["name"] == name for rec in self._stack)

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def patch(self, module: str, attr: str, wrapper_factory) -> None:
        """Replace `module.attr` (a module path, or "module:Class") by
        `wrapper_factory(original)` until `restore`."""
        mod_name, _, cls = module.partition(":")
        owner = importlib.import_module(mod_name)
        if cls:
            owner = getattr(owner, cls)
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper_factory(original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
