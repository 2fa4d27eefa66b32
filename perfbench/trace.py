"""Measurement outside the program: spans around its public functions,
Spark's own stage counters, and process-tree memory.

Spans are recorded only by the benchmark's files.  ``Tracer.wrap``
swaps a module or class attribute of the program for a timing wrapper
and ``Tracer.restore`` puts the original back; nothing inside the
program changes.  Wrappers patch the Spark driver process only: Spark ships
the program's worker-side functions to Python workers by import path,
so the workers run the original code.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time


class Tracer:
    """In-memory spans: (id, name, start, end, parent).  A span opened
    on a thread with no open span of its own (e.g. the profile pass
    that ``cmd_validate`` runs on a pool thread) is parented to the
    current op span."""

    def __init__(self):
        self.spans: list[dict] = []
        self.archive: list[dict] = []
        self.counts: dict[str, float] = {}
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._patches: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def op(self, name: str, fn, *args):
        """Run one op as the root span; the previous op's spans move to
        ``archive`` so per-op figures read only this op's spans."""
        if not self.enabled:
            return fn(*args)
        self.archive.extend(self.spans)
        self.spans, self.counts = [], {}
        sid = next(self._ids)
        self._op = sid
        self._stack().append((sid, name, None))
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self._record(sid, name, t0, time.perf_counter(), None)
            self._stack().pop()
            self._op = None

    def _record(self, sid, name, t0, t1, parent) -> None:
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "start": t0, "end": t1, "parent": parent}
            )

    def count(self, key: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] = self.counts.get(key, 0) + value

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._stack()
        parent = st[-1][0] if st else self._op
        sid = next(self._ids)
        st.append((sid, name, None))
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._record(sid, name, t0, time.perf_counter(), parent)
            st.pop()

    def wrap(self, owner, attr: str, name: str, static: bool = False, on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper;
        ``on_call(args, result)`` may add counts."""
        orig = owner.__dict__[attr] if static else getattr(owner, attr)
        target = orig.__func__ if static else orig
        tracer = self

        @functools.wraps(target)
        def wrapper(*args, **kwargs):
            out = tracer.call(name, target, *args, **kwargs)
            if on_call is not None and tracer.enabled:
                on_call(args, out)
            return out

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its child spans cover (union, so overlapping
        children on other threads are not double-subtracted)."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            dur = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
        return out

    def total_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out


class SparkCounters:
    """Stage and job data read from the Spark driver's status store after an
    op; every stage of every job submitted since the previous read
    belongs to the op (one client, closed loop)."""

    FIELDS = ("tasks", "failed_tasks", "input_bytes", "shuffle_write_bytes",
              "spill_bytes", "executor_run_s", "gc_s", "jobs")

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen_job = self._sc.dagScheduler().numTotalJobs() - 1

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def read(self) -> dict[str, float]:
        self._drain()
        out = dict.fromkeys(self.FIELDS, 0.0)
        store = self._sc.statusStore()
        newest = self._seen_job
        stage_ids: set[int] = set()
        for job in self._conv.asJava(store.jobsList(None)):  # newest first
            jid = job.jobId()
            if jid <= self._seen_job:
                break
            newest = max(newest, jid)
            out["jobs"] += 1
            stage_ids.update(self._conv.asJava(job.stageIds()))
        self._seen_job = newest
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
        return out


def process_tree(root_pid: int) -> set[int]:
    """``root_pid`` and all its live descendants: the driver, the JVM
    spark-submit starts, and the Python workers the JVM forks."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _tree_rss_kb(root_pid: int) -> tuple[int, int]:
    """Summed VmRSS of the process tree, split into (Python processes,
    JVM)."""
    tree = process_tree(root_pid)
    python_kb = jvm_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read()
        except OSError:
            continue
        name = status.split("\n", 1)[0].split()[-1]
        for line in status.splitlines():
            if line.startswith("VmRSS:"):
                kb = int(line.split()[1])
                if name == "java":
                    jvm_kb += kb
                else:
                    python_kb += kb
                break
    return python_kb, jvm_kb


class RssSampler:
    """Background sampler of the process tree's RSS: per-window peaks
    (the window is reset per op) of the Python processes and of the JVM,
    and the run's peak of their sum."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.python_kb = self.jvm_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            py, jvm = _tree_rss_kb(pid)
            with self._lock:
                self.peak_kb = max(self.peak_kb, py + jvm)
                self.python_kb = max(self.python_kb, py)
                self.jvm_kb = max(self.jvm_kb, jvm)
            self._stop.wait(self.interval_s)

    def new_window(self) -> None:
        py, jvm = _tree_rss_kb(os.getpid())
        with self._lock:
            self.python_kb, self.jvm_kb = py, jvm

    def window_mb(self) -> dict[str, float]:
        with self._lock:
            return {"python_rss_mb": self.python_kb / 1024.0,
                    "jvm_rss_mb": self.jvm_kb / 1024.0}

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
