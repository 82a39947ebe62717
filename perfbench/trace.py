"""Measurement from outside the program: spans, Spark's status store,
executed-plan node counts and process-tree memory.

Spans are kept in memory (name, start, end, parent, attributes) and
written out once at the end of a run. Stage counters come from
``SparkContext.statusStore()``, which Spark keeps with the UI disabled.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, /, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------ Spark counters

_STAGE_FIELDS = {
    "tasks": lambda s: s.numCompleteTasks(),
    "failed_tasks": lambda s: s.numFailedTasks(),
    "run_ms": lambda s: s.executorRunTime(),
    "cpu_ns": lambda s: s.executorCpuTime(),
    "gc_ms": lambda s: s.jvmGcTime(),
    "input_bytes": lambda s: s.inputBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
}


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        # listener events are delivered asynchronously
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def group_jobs(self, group: str) -> list[int]:
        self._drain()
        return self.sc.statusTracker().getJobIdsForGroup(group)

    def jobs_after(self, job_id: int) -> list[int]:
        """Jobs with an id above ``job_id`` (ids are handed out in order)."""
        self._drain()
        jobs = self.store.jobsList(None)
        return [j for j in (jobs.apply(i).jobId() for i in range(jobs.size())) if j > job_id]

    def last_job(self) -> int:
        return max(self.jobs_after(-1), default=-1)

    def stage_totals(self, job_ids: list[int]) -> Counter:
        """Summed stage metrics over the distinct stages of ``job_ids``;
        ``stages`` counts the stages that ran (not skipped)."""
        self._drain()
        stage_ids: set[int] = set()
        for jid in job_ids:
            ids = self.store.job(jid).stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out: Counter = Counter()
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, get in _STAGE_FIELDS.items():
                out[key] += get(st)
        return out

    def cached_blocks(self) -> tuple[int, float]:
        """(cached RDDs, MB they hold in memory and on disk)."""
        rdds = self.store.rddList(True)
        used = sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size()))
        return rdds.size(), used / 2**20


_NODE_PATTERNS = {
    "exchanges": r"(?:Broadcast)?Exchange",
    "kernel_nodes": (
        r"(?:MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow"
        r"|AggregateInPandas|WindowInPandas|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)"
    ),
    "checkpoint_scans": r"(?:Scan ExistingRDD|InMemoryTableScan)",
}
_NODE_RES = {k: re.compile(r"(?m)^[\s:+|-]*" + v + r"\b") for k, v in _NODE_PATTERNS.items()}


def plan_counts(df) -> dict[str, int]:
    """Node counts of the physical plan ``df`` executed (after its action
    this is the final adaptive plan, which repeats for the same data)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {k: len(r.findall(plan)) for k, r in _NODE_RES.items()}


# -------------------------------------------------------------- memory

def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def descendants(pid: int) -> list[int]:
    todo, out = _children(pid), []
    while todo:
        out.append(todo.pop())
        todo.extend(_children(out[-1]))
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` runs (exists and is not a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _proc_kb(path: str, field: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_mem_mb(root: int) -> float:
    """Resident memory of the JVM plus the proportional set size of its
    descendants: forked Python workers share most pages with their
    daemon, so their summed RSS would count those pages once per worker.
    (The JVM's own PSS would need a page-table walk of a multi-GB
    address space on every sample.) A descendant that still runs the
    JVM's executable is a fork the JVM has not yet exec'ed into a helper
    (Hadoop runs ``readlink`` this way); it maps the JVM's own pages, so
    it is skipped rather than counted as a second JVM."""
    jvm = _exe(root)
    total = _proc_kb(f"/proc/{root}/status", "VmRSS:")
    total += sum(
        _proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        for pid in descendants(root)
        if _exe(pid) != jvm
    )
    return total / 1024


class MemSampler:
    """Peak memory of the Spark JVM and its Python workers (see
    :func:`tree_mem_mb`), sampled from /proc in a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root, self.interval = root_pid, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_mem_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_mem_mb(self.root))
