"""Measurement plumbing shared by the workloads: the run context, spans,
Spark job/stage accounting, the streaming listener and the RSS sampler.

Everything here sits on the benchmark's side of the engine's public
functions. Counts come from Spark's own bookkeeping (job groups, the
status store, streaming progress events); nothing is added inside the
engine.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


# Input generation runs this often in each set-up, and its median time
# counts in setup_s: it is cheap, and the median keeps one slow
# repetition out of the figure.
GEN_REPS = 3


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Trace:
    """In-memory spans (name, start, end, parent), written out at exit.

    With ``enabled`` false, :meth:`span` costs two clock reads and
    records nothing, and :meth:`group` sets no Spark job group.
    """

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @contextmanager
    def group(self, group_id: str):
        """Tag the Spark jobs launched inside the block with a job group
        (traced runs only), so :class:`JobStats` can attribute them."""
        if not self.enabled or self.spark is None:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(group_id, group_id, interruptOnCancel=False)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class JobStats:
    """Per-job-group Spark accounting, read after the fact.

    Job ids per group come from ``statusTracker`` (public API). Stage
    byte and CPU counters come from the driver's status store, the same
    store the web UI and REST API read; it is reached through the JVM
    gateway because the benchmark sessions run with the UI off.
    """

    FIELDS = (
        "stages", "tasks", "input_bytes", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "cpu_s",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def jobs(self, group_id: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group_id))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        out = {k: 0.0 for k in self.FIELDS}
        if not job_ids:
            return out
        store = self.sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store
                continue
            if str(st.status()) != "COMPLETE":  # skipped: its shuffle was reused
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += (
                st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
            )
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["cpu_s"] += st.executorCpuTime() / 1e9
        return out


# ---------------------------------------------------------------------------
# Streaming progress listener
# ---------------------------------------------------------------------------


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event of every
    query (the dead-letter query included), keyed by query name."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: dict[str, list[dict]] = defaultdict(list)
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
            }
            with self.lock:
                self.events[p.name or "points"].append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def n_events(self) -> int:
            with self.lock:
                return sum(len(v) for v in self.events.values())

        def drain(self, expected: int, timeout_s: float = 20.0) -> None:
            """Listener events arrive asynchronously; wait for them."""
            end = time.monotonic() + timeout_s
            while self.n_events() < expected and time.monotonic() < end:
                time.sleep(0.05)

        def take(self) -> dict[str, list[dict]]:
            with self.lock:
                out, self.events = dict(self.events), defaultdict(list)
            return out

    return Progress()


# ---------------------------------------------------------------------------
# Peak RSS of the driver process tree (Python driver, JVM, Python workers)
# ---------------------------------------------------------------------------


def _proc_tree(root: int) -> list[list[int]]:
    """[pid, rss kB, cpu ticks] of ``root`` and every descendant. CPU
    ticks include reaped children (cutime/cstime), so a worker that
    exits still counts through the process that waited for it."""
    children: dict[int, list[int]] = defaultdict(list)
    info: dict[int, list[int]] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        pid = int(name)
        children[int(fields[1])].append(pid)
        info[pid] = [pid, pages * page_kb, sum(int(x) for x in fields[11:15])]
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out.append(info[pid])
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root: int) -> int:
    return sum(p[1] for p in _proc_tree(root))


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM, the Python workers)."""
    return sum(p[2] for p in _proc_tree(os.getpid())) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    every ``interval_s`` and keeps the maximum."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Result of one workload run
# ---------------------------------------------------------------------------


class RunResult:
    def __init__(self):
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []   # check failures of operations that ran
        self.end_to_end: dict[str, float] = {}
        self.per_layer: dict[str, float] = {}
