"""Measurement plumbing read from outside the program under test.

* :class:`Tracer` — spans (name, start, end, parent, answer id) kept in
  memory and written out once at the end of a run.
* :class:`StageLedger` — per-job-group stage metrics harvested from
  Spark's status store (works with the UI disabled).
* :class:`RssSampler` — peak resident memory of this process tree,
  read from ``/proc`` (no psutil).
* :func:`pin_ledger` — persistent RDDs and their storage bytes.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # open spans, per thread
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, answer: "int | None" = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": None, "name": name, "answer": answer,
               "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


class StageLedger:
    """Stage metrics from ``statusStore()`` grouped by the job group
    the benchmark sets around each call into the program.

    ``stageList`` and ``jobsList`` return Scala sequences: they are
    indexed with ``.apply(i)`` (``.get(i)`` does not exist on them).
    Harvest after every answer, so the store's retention limit never
    drops a stage before it is read.
    """

    FIELDS = ("run_s", "cpu_s", "shuffle_write_bytes", "tasks", "jobs")

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            self._jvm.double, 0)
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.groups: dict[str, dict[str, float]] = {}

    def _bucket(self, group: str) -> dict[str, float]:
        return self.groups.setdefault(group, dict.fromkeys(self.FIELDS, 0.0))

    def harvest(self) -> None:
        jvm = self._jvm
        jobs = self._store.jobsList(jvm.java.util.ArrayList())
        stage_group: dict[int, str] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            opt = job.jobGroup()
            group = opt.get() if opt.isDefined() else "-"
            ids = job.stageIds()
            for j in range(ids.size()):
                stage_group[ids.apply(j)] = group
            jid = job.jobId()
            if jid not in self._seen_jobs and str(job.status()) != "RUNNING":
                self._seen_jobs.add(jid)
                self._bucket(group)["jobs"] += 1
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False, self._no_quantiles,
            jvm.java.util.ArrayList())
        for i in range(stages.size()):
            st = stages.apply(i)
            key = (st.stageId(), st.attemptId())
            if key in self._seen_stages or str(st.status()) not in (
                    "COMPLETE", "FAILED", "SKIPPED"):
                continue
            self._seen_stages.add(key)
            if str(st.status()) == "SKIPPED":
                continue
            b = self._bucket(stage_group.get(st.stageId(), "-"))
            b["run_s"] += st.executorRunTime() / 1e3
            b["cpu_s"] += st.executorCpuTime() / 1e9
            b["shuffle_write_bytes"] += st.shuffleWriteBytes()
            b["tasks"] += st.numTasks()

    def total(self, groups) -> dict[str, float]:
        """Sum over the named job groups (absent ones count 0)."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        for g in groups:
            for k, v in self.groups.get(g, {}).items():
                out[k] += v
        return out


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows the closing paren
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _hwm_kb(pid: int) -> int:
    """Peak resident set size (VmHWM) of one process, 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background thread that reads, every INTERVAL seconds, the peak
    resident set size (VmHWM) of every live process in this process
    tree.  The tree's peak is the largest per-sample sum: processes
    alive at the same time add up, and a Python worker that replaced
    an exited one does not add to it.

    A process counts from the second sample that sees it on.  A child
    the JVM spawns (Spark deletes its directories with ``rm -rf``)
    shares the JVM's memory until it execs, so a sample in that window
    can count the JVM twice: one stream run read 3.1 GB, about the
    JVM's RSS, above the others.  After the exec its peak is a few MB."""

    INTERVAL = 0.25

    def __init__(self) -> None:
        self._peak_kb = 0
        self._seen: set[int] = {os.getpid()}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pids = tree_pids()
        self._peak_kb = max(self._peak_kb, sum(
            _hwm_kb(pid) for pid in pids if pid in self._seen))
        self._seen = set(pids)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0


def pin_ledger(spark) -> tuple[int, int]:
    """(persistent RDD count, bytes they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    pins = jsc.getPersistentRDDs().size()
    infos = jsc.sc().getRDDStorageInfo()
    stored = sum(int(r.memSize()) + int(r.diskSize()) for r in infos)
    return pins, stored
