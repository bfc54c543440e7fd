"""Measurement plumbing: spans, process-tree I/O and memory, the Spark
event log and streaming progress.

Spans are recorded only in a traced run (``Tracer(enabled=True)``);
the untraced tracer hands out a throwaway record and touches nothing,
so end-to-end numbers carry no tracing cost. Process-tree counters are
read in both modes (the end-to-end metrics are made of them), and the
streaming listener runs in both modes so a pass's checks wait until its
streams have reported their last micro-batch.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


# ------------------------------------------------------- process tree

def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _proc_field(pid: int, name: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def tree_write_bytes() -> int:
    """Bytes the process tree (JVM, Python workers, this driver) has
    sent to the storage layer (``/proc/<pid>/io`` ``write_bytes``)."""
    return sum(_proc_field(p, "io", "write_bytes:") for p in tree_pids())


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) the process
    tree has used so far."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS."""
    return sum(_proc_field(p, "status", "VmHWM:") for p in tree_pids()) / 1024.0


# --------------------------------------------------------------- spans

class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span is (id, name, start, end, parent, run id) plus the counts
    the caller attaches. While a span is open its id is the Spark job
    description, so the event log attributes every job (and its tasks)
    to the innermost span that launched it.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._sc = None
        self._after: list = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobDescription(f"pb:{rec['id']}")
        wb0 = tree_write_bytes()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["write_bytes"] = tree_write_bytes() - wb0
            self._stack.pop()
            if self._sc is not None:
                parent = self._stack[-1]["id"] if self._stack else None
                self._sc.setJobDescription(None if parent is None else f"pb:{parent}")
            self.spans.append(rec)

    def after(self, fn) -> None:
        """Traced runs only: call ``fn`` in ``flush`` — for read-backs
        that add counts to a span record, run after the pass so neither
        their time nor their jobs land in any span."""
        if self.enabled:
            self._after.append(fn)

    def flush(self, run: bool = True) -> None:
        """Call (or, after a failed pass, drop) the pending ``after``s."""
        while self._after:
            fn = self._after.pop(0)
            if run:
                fn()

    def force(self, df, rec: dict):
        """Traced runs only: materialize ``df`` at the layer boundary
        (``localCheckpoint`` + count) so the span holds its layer's work;
        returns the materialized frame and records ``rows_out``."""
        if not self.enabled:
            return df
        df = df.localCheckpoint(eager=True)
        rec["rows_out"] = rec.get("rows_out", 0) + df.count()
        return df


# ----------------------------------------------------------- event log

def eventlog_conf(log_dir: str) -> list[str]:
    """Launch-time confs that switch the event log on (uncompressed:
    the default zstd codec has no Python reader here)."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
    ]


def _events(app_log: str):
    """Events of one application: a single file, or a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    parts = sorted(
        glob.glob(os.path.join(os.path.dirname(app_log), "eventlog_v2_" + os.path.basename(app_log), "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or [p for p in (app_log,) if os.path.isfile(p)]
    for path in parts:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(app_log: str) -> dict:
    """Jobs (with span id, interval and call site) and per-job task
    totals from one application's uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in _events(app_log):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            jid = ev["Job ID"]
            jobs[jid] = {
                "span": int(desc[3:]) if desc.startswith("pb:") else None,
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "callsite": props.get("callSite.short", ""),
                "sql_execution": props.get("spark.sql.execution.id"),
                "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job["tasks"] += 1
            job["run_ms"] += m.get("Executor Run Time", 0)
            job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            job["gc_ms"] += m.get("JVM GC Time", 0)
            job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return jobs


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total * 1000.0


# ----------------------------------------------------- stream progress

class ProgressLog(StreamingQueryListener):
    """Per-micro-batch progress of every streaming query."""

    def __init__(self):
        self.batches: list[dict] = []
        self._started = 0
        self._ended = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self._started += 1

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cv:
            self.batches.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._ended += 1
            self._cv.notify_all()

    def drain(self, timeout: float = 30.0) -> bool:
        """Wait until every started query's termination was delivered
        (the listener bus is asynchronous)."""
        deadline = time.time() + timeout
        with self._cv:
            while self._ended < self._started:
                left = deadline - time.time()
                if left <= 0:
                    return False
                self._cv.wait(left)
        return True
