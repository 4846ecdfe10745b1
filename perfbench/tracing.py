"""Spans, Spark stage metrics and process-tree memory for the benchmark.

Spans are recorded around the calls the benchmark makes into each
sparkcodec module, and around driver-side public functions of those
modules by wrapping them from here; the program's source is never
touched. Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import collections
import functools
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.

    A span has a name, start, end, parent span and the id of the operation
    it belongs to. When ``enabled`` is false every call is a no-op, which is
    how the end-to-end metrics are measured.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._n_ops = 0
        self._paused = False
        self._patched: list[tuple[object, str, object]] = []

    @property
    def active(self) -> bool:
        return self.enabled and not self._paused

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """One operation of the workload; its spans share an op id.
        ``traced=False`` runs it with tracing paused (overhead control)."""
        self._n_ops += 1
        prev_op, prev_paused = self._op, self._paused
        self._op, self._paused = self._n_ops, self._paused or not traced
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op, self._paused = prev_op, prev_paused

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a span-recording wrapper (driver side
        only; undone by :meth:`unwrap_all`)."""
        fn = getattr(module, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that its
    direct children cover (children of one thread never overlap)."""
    covered: dict[int, float] = collections.defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    return {
        s["id"]: max(0.0, (s["end"] - s["start"]) - covered[s["id"]])
        for s in spans
        if s["end"] is not None
    }


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


# ---------------------------------------------------------------------------
# Spark runtime metrics from the status store (works with the UI disabled)


def _opt(o):
    return o.get() if o.isDefined() else None


def _items(coll) -> list:
    """Elements of a Java list or a Scala sequence."""
    from py4j.protocol import Py4JError

    n = coll.size()
    try:
        return [coll.get(i) for i in range(n)]
    except Py4JError:
        return [coll.apply(i) for i in range(n)]


def spark_metrics_by_group(spark) -> dict[str, dict]:
    """Jobs, tasks and stage metrics summed per job group.

    Each timed operation runs under a job group named after its kind, so
    this attributes every Spark job the program launched to the operation
    that caused it.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    # py4j sees Scala's default arguments as methods of their own
    defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    stages = collections.defaultdict(list)  # every attempt of a stage counts
    for st in _items(store.stageList(None, *defaults)):
        stages[st.stageId()].append({
            "tasks": st.numTasks(),
            "failed_tasks": st.numFailedTasks(),
            "executor_run_s": st.executorRunTime() / 1e3,
            "executor_cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "gc_s": st.jvmGcTime() / 1e3,
        })
    out: dict[str, dict] = collections.defaultdict(lambda: collections.defaultdict(float))
    for job in _items(store.jobsList(None)):
        m = out[_opt(job.jobGroup()) or "other"]
        m["jobs"] += 1
        for sid in _items(job.stageIds()):
            for attempt in stages.get(sid, ()):
                for k, v in attempt.items():
                    m[k] += v
    return {k: dict(v) for k, v in out.items()}


# ---------------------------------------------------------------------------
# host capacity context


# A fixed unit of pure-CPU work: the frozen suite's calibration kernel
# (numpy sorts of 2M bytes) at a tenth of its size. Each worker prepares,
# waits for "go" so that all of them burn at once, and prints its wall.
_BURN = """
import sys, time
import numpy as np
a = np.random.default_rng(0).integers(0, 255, 2_000_000).astype(np.uint8)
print("ready", flush=True)
sys.stdin.readline()
t0 = time.perf_counter()
for _ in range(2):
    np.sort(a)
print(time.perf_counter() - t0, flush=True)
"""


def _burn_wall(n: int) -> float:
    """Wall of the slowest of ``n`` burn units run at the same time."""
    import subprocess
    import sys

    procs = [
        subprocess.Popen([sys.executable, "-c", _BURN], stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    try:
        for p in procs:
            p.stdout.readline()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        return max(float(p.stdout.readline()) for p in procs)
    finally:
        for p in procs:
            p.stdin.close()
            p.wait(timeout=60)


def calibrate(counts: list[int]) -> dict:
    """Wall of ``n`` concurrent burn units for each ``n``: how much
    parallel CPU the host delivers right now. Context for a run, not a
    metric of the program."""
    out = {f"host.cal_{n}_s": _burn_wall(n) for n in counts}
    n = max(counts)
    out["host.cores"] = n
    out["host.parallel_speedup"] = n * out["host.cal_1_s"] / out[f"host.cal_{n}_s"]
    return out


# ---------------------------------------------------------------------------
# memory: summed RSS of this process and every descendant (JVM, workers)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Summed RSS of ``root`` and its descendants: (all, all but the JVM)."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total = py = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                jvm = f.read().strip() == "java"
        except OSError:
            continue
        total += rss
        py += 0 if jvm else rss
    return total, py


class RssSampler:
    """Samples the process tree's summed RSS on a background thread:
    ``peak`` over the whole run, and ``peak_py``, the Python processes
    alone, while ``window`` is set."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = self.peak_py = 0
        self.window = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self._sample(me)
            self._stop.wait(self.interval)

    def _sample(self, pid: int) -> None:
        total, py = tree_rss_bytes(pid)
        self.peak = max(self.peak, total)
        if self.window:
            self.peak_py = max(self.peak_py, py)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample(os.getpid())
