"""Instruments that read the program from outside: Spark's SQL status
store, the process table for RSS, and an in-memory span recorder."""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# Spark SQL status store
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

# status-store metric name -> probe counter
_SQL_METRICS = {
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def parse_metric(text: str) -> float:
    """A status-store metric string as a number in base units (bytes,
    seconds, rows). Multi-task metrics render as
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the total is
    the first value on the last line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _iterate(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class StatusProbe:
    """Sums SQL metrics and task counts over the SQL executions that
    finished since the last :meth:`mark`. Works with the UI disabled:
    the SQL status store and the status tracker are always live."""

    WINDOW = 256  # executions read back per collect

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._last_id = -1
        self.mark()

    def mark(self) -> None:
        n = self._store.executionsCount()
        if n:
            tail = self._store.executionsList(n - 1, 1)
            self._last_id = tail.apply(0).executionId()

    def collect(self) -> dict:
        """Counters over the executions since the last mark, then mark."""
        out = {
            "shuffle_bytes": 0.0, "spill_bytes": 0.0, "python_worker_s": 0.0,
            "python_bytes": 0.0, "tasks": 0, "failed_tasks": 0,
            "join_rows": [],
        }
        n = self._store.executionsCount()
        start = max(0, n - self.WINDOW)
        execs = [
            e for e in _iterate(self._store.executionsList(start, n - start))
            if e.executionId() > self._last_id
        ]
        tracker = self._sc.statusTracker()
        for e in execs:
            eid = e.executionId()
            values = self._store.executionMetrics(eid)
            for node in _iterate(self._store.planGraph(eid).allNodes()):
                is_join = "Join" in node.name()
                for m in _iterate(node.metrics()):
                    key = _SQL_METRICS.get(m.name())
                    if key is None and not (
                        is_join and m.name() == "number of output rows"
                    ):
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    x = parse_metric(v.get())
                    if key is None:
                        out["join_rows"].append((node.desc(), x))
                    else:
                        out[key] += x
            for jid in _iterate(e.jobs().keys()):
                job = tracker.getJobInfo(int(jid))
                for sid in job.stageIds if job else []:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        out["tasks"] += st.numCompletedTasks
                        out["failed_tasks"] += st.numFailedTasks
            self._last_id = max(self._last_id, eid)
        return out


def storage_facts(spark) -> dict:
    """Persisted RDD bytes (memory + disk) and the storage memory the
    block manager may use."""
    jsc = spark.sparkContext._jsc.sc()
    persisted = sum(
        r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo()
    )
    status = jsc.getExecutorMemoryStatus()
    max_mem = sum(status.apply(k)._1() for k in _iterate(status.keys()))
    return {"persisted_bytes": persisted, "storage_mem_bytes": max_mem}


# ---------------------------------------------------------------------------
# RSS of the driver JVM and its Python workers
# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and every live process below it,
    including their reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(b")") + 2:].split()
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def jit_cpu_s(root: int) -> float:
    """CPU seconds of the JIT compiler threads of the processes below
    ``root``. The JVM must keep those threads alive
    (-XX:-UseDynamicNumberOfCompilerThreads), or a thread that exits
    takes its count with it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if b"CompilerThre" in stat[:stat.rindex(b")")]:
                f = stat[stat.rindex(b")") + 2:].split()
                total += int(f[11]) + int(f[12])  # utime stime
    return total / tick


def _rss_kb(pid: int) -> tuple[str, int]:
    """(command name, resident set size in KiB), ("", 0) if gone."""
    name, rss = "", 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
    except OSError:
        pass
    return name, rss


class RssSampler:
    """Peak resident memory of this process's descendants together (the
    driver JVM, the Python daemon and its workers): the largest sum of
    their RSS over samples taken every ``period_s``."""

    def __init__(self, period_s: float = 0.2):
        self._period = period_s
        self._peak_kb = 0
        self._at_peak: list[tuple[str, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def sample(self) -> None:
        procs = [_rss_kb(pid) for pid in descendants(os.getpid())]
        total = sum(kb for _name, kb in procs)
        if total > self._peak_kb:
            self._peak_kb = total
            self._at_peak = sorted(procs, key=lambda p: -p[1])

    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0

    def by_process(self) -> list[tuple[str, float]]:
        """The processes of the peak sample, largest first, in MB."""
        return [(name, kb / 1024.0) for name, kb in self._at_peak if kb]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans kept in memory and written as JSON when the run ends. A
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans},
                      fh, indent=1)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the time its direct children cover."""
    kids = sum(duration(s) for s in spans if s["parent"] == span["id"])
    return duration(span) - kids
