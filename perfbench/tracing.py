"""Observation helpers for the benchmark, all from outside the program.

- ``Tracer``: in-memory spans (name, start, end, parent, op) around the
  benchmark's calls into each layer's public function. Nothing is
  recorded while it is disabled, so the timed windows run untraced.
- ``ProcTree``: CPU seconds, peak RSS and written bytes read from
  ``/proc/<pid>/{stat,status,io}``, split into the driver (this Python
  process), the JVM it launched, and the Python workers under the JVM;
  ``host_steal`` reads the machine's CPU steal from ``/proc/stat``.
- ``job_counts``: Spark jobs, stages and tasks per job group, read from
  ``SparkContext.statusTracker()``.
- ``StreamLog``: a ``StreamingQueryListener`` that keeps micro-batch
  progress and maps each query run to the op that started it.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")
# thread names (comm, cut to 15 bytes) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter() if start is None else start,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer not covered by a child span. Spans come from
    one thread and nest, so children never overlap and the self times of
    a tree sum to its root's duration."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[layer_of(s["name"])] += (s["end"] - s["start"]) - covered[s["id"]]
    return dict(out)


def check_nesting(spans: list[dict]) -> list[str]:
    """Problems with a span list: open spans, children outside their
    parent's interval, and overlapping siblings."""
    by_id = {s["id"]: s for s in spans}
    problems = []
    last_end: dict[int | None, float] = {}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            problems.append(f"span {s['id']} {s['name']} not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            problems.append(f"span {s['id']} has unknown parent {s['parent']}")
        if p is not None and p["end"] is not None and not (
            p["start"] <= s["start"] and s["end"] <= p["end"]
        ):
            problems.append(f"span {s['id']} {s['name']} escapes parent {p['name']}")
        if s["start"] < last_end.get(s["parent"], float("-inf")):
            problems.append(f"span {s['id']} {s['name']} overlaps a sibling")
        last_end[s["parent"]] = s["end"]
    return problems


# ---------------------------------------------------------------------------
# /proc accounting
# ---------------------------------------------------------------------------


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        text = _read(f"/proc/{pid}/task/{t}/children")
        if text:
            out.extend(int(c) for c in text.split())
    return out


def _cpu(pid: int | str, reaped: bool) -> float:
    """utime+stime of ``pid`` (or of thread ``"<pid>/task/<tid>"``) in
    seconds; with ``reaped`` also the CPU of its children that have
    exited and been waited for."""
    text = _read(f"/proc/{pid}/stat")
    if text is None:
        return 0.0
    f = text[text.rindex(")") + 2 :].split()
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def _status_kib(pid: int, key: str) -> int:
    text = _read(f"/proc/{pid}/status") or ""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def _wchar(pid: int) -> int:
    text = _read(f"/proc/{pid}/io") or ""
    for line in text.splitlines():
        if line.startswith("wchar:"):
            return int(line.split()[1])
    return 0


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from ``/proc/stat``:
    time the hypervisor ran something else while a vCPU had work."""
    f = [int(x) for x in (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:9]]
    return f[7] if len(f) > 7 else 0, sum(f)


class ProcTree:
    """The driver, its JVM child and the Python workers under the JVM."""

    def __init__(self):
        self.driver = os.getpid()
        self._jvm: int | None = None

    @property
    def jvm(self) -> int | None:
        if self._jvm is None:
            for c in _children(self.driver):
                exe = _read(f"/proc/{c}/comm") or ""
                if exe.strip() == "java":
                    self._jvm = c
        return self._jvm

    def workers(self) -> list[int]:
        if self.jvm is None:
            return []
        out, todo = [], _children(self.jvm)
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(_children(pid))
        return out

    def jit_cpu(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads. The worker starts
        the JVM with a fixed set of them (no dynamic compiler threads), so
        none exits and takes its CPU out of this sum."""
        try:
            tasks = os.listdir(f"/proc/{self.jvm}/task")
        except OSError:  # no JVM (yet, or any more)
            return 0.0
        total = 0.0
        for t in tasks:
            if (_read(f"/proc/{self.jvm}/task/{t}/comm") or "").startswith(JIT_THREADS):
                total += _cpu(f"{self.jvm}/task/{t}", reaped=False)
        return total

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per role; ``jvm`` includes ``jit``. A live
        worker's CPU is not yet in its parent's reaped-children total, so
        summing self+reaped over every worker counts each second once."""
        jvm = self.jvm
        return {
            "driver": _cpu(self.driver, reaped=False),
            "jvm": _cpu(jvm, reaped=False) if jvm else 0.0,
            "jit": self.jit_cpu(),
            "pyworker": sum(_cpu(p, reaped=True) for p in self.workers()),
        }

    def peak_rss_mib(self) -> float:
        pids = [self.driver] + ([self.jvm] if self.jvm else []) + self.workers()
        return sum(_status_kib(p, "VmHWM") for p in pids) / 1024.0

    def jvm_wchar(self) -> int:
        return _wchar(self.jvm) if self.jvm else 0


# ---------------------------------------------------------------------------
# Spark job groups and streaming progress
# ---------------------------------------------------------------------------


def job_counts(sc, groups) -> dict[str, int]:
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "single_task_stages": 0}
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue  # skipped stage: never ran
                out["stages"] += 1
                out["tasks"] += si.numTasks
                out["failed_tasks"] += si.numFailedTasks
                out["single_task_stages"] += si.numTasks == 1
    return out


def make_stream_log(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamLog(StreamingQueryListener):
        """Micro-batch progress per query run. QueryStartedEvent is
        delivered before ``start()`` returns, so the tracer's current op
        is the op that started the query; later events are matched by
        run id."""

        def __init__(self):
            self.lock = threading.Lock()
            self.op_of: dict[str, str | None] = {}
            self.started: dict[str, float] = {}
            self.ended: dict[str, float] = {}
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                rid = str(event.runId)
                self.op_of[rid] = tracer.op
                self.started[rid] = time.perf_counter()

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "run": str(p.runId),
                "batch_ms": float(p.batchDuration),
                "durations": dict(p.durationMs),
                "rows": int(p.numInputRows),
                "state": [(int(s.numRowsTotal), int(s.memoryUsedBytes)) for s in p.stateOperators],
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.ended[str(event.runId)] = time.perf_counter()

        def runs_of(self, op: str) -> list[str]:
            with self.lock:
                return [r for r, o in self.op_of.items() if o == op]

        def settle(self, timeout: float = 5.0) -> None:
            """Wait until every started run has reported termination."""
            deadline = time.perf_counter() + timeout
            while time.perf_counter() < deadline:
                with self.lock:
                    if set(self.started) <= set(self.ended):
                        return
                time.sleep(0.05)

    return StreamLog()
