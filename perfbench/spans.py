"""In-memory span recorder for the traced run, plus readers for Spark's
own status store and the process tree's memory.

The benchmark records spans only from its own files, around the calls it
makes into each layer's public functions. One root span per op; one
child span per layer call; Spark jobs are attached from the status
store, found through the op's own job group. Spans stay in memory and
are written out once, at exit.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float = 0.0
    kind: str = "layer"          # root | layer | job

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a cheap
    no-op so the timed runs carry no tracing cost."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.op_stats: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[Span] = []
        self._op = 0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def op(self, kind: str):
        if not self.enabled:
            yield
            return
        self._op += 1
        group = f"perfbench-op-{self._op}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        ex0 = self._executor_totals()
        last_job = self._latest_job()
        root = self._open(kind, "root")
        try:
            yield
        finally:
            self._close(root)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._finish_op(root, last_job, ex0)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = self._open(name, "layer")
        try:
            yield s
        finally:
            self._close(s)

    def label_last(self, kind: str) -> None:
        """Name the last op's root span after the op kind it turned out to be."""
        self.op_stats[-1]["kind"] = kind
        next(s for s in reversed(self.spans) if s.kind == "root").name = kind

    def count(self, name: str, value: float) -> None:
        """Accumulate a per-op count at the layer boundary it belongs to."""
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def _open(self, name: str, kind: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self._op, name, time.time(), kind=kind)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()

    # -- Spark status store ---------------------------------------------
    def _jsc(self):
        return self.spark.sparkContext._jsc.sc()

    def _executor_totals(self) -> tuple[float, float]:
        """(GC seconds, shuffle-write bytes) summed over executors."""
        self._jsc().listenerBus().waitUntilEmpty()
        ex = self._jsc().statusStore().executorList(False)
        gc = sw = 0.0
        for i in range(ex.size()):
            e = ex.apply(i)
            gc += e.totalGCTime() / 1000.0
            sw += float(e.totalShuffleWrite())
        return gc, sw

    def _latest_job(self) -> int:
        jobs = self._jsc().statusStore().jobsList(None)   # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _finish_op(self, root: Span, last_job: int, ex0: tuple[float, float]) -> None:
        """Attach the op's Spark jobs as child spans and record its
        session-level figures. The op's jobs are those started after it
        began: its own job group plus the jobs of any streaming query it
        ran, which Spark runs under the query's own group."""
        gc1, sw1 = self._executor_totals()
        layers = [s for s in self.spans if s.op == root.op and s.kind == "layer"]
        jobs, tasks = [], 0
        store = self._jsc().statusStore().jobsList(None)
        for i in range(store.size()):
            jd = store.apply(i)
            if jd.jobId() <= last_job:
                break
            if jd.submissionTime().isEmpty() or jd.completionTime().isEmpty():
                continue
            s = jd.submissionTime().get().getTime() / 1000.0
            e = jd.completionTime().get().getTime() / 1000.0
            tasks += jd.numTasks() - jd.numSkippedTasks()
            # the innermost layer span that was open when the job started
            owner = [sp for sp in layers if sp.start <= s <= sp.end]
            parent = max(owner, key=lambda sp: sp.start).id if owner else root.id
            self.spans.append(Span(len(self.spans), parent, root.op, f"job-{jd.jobId()}",
                                   s, e, kind="job"))
            jobs.append((max(s, root.start), min(e, root.end)))
        busy = union_len(jobs)
        self.op_stats.append({
            "kind": root.name,
            "jobs": len(jobs),
            "tasks": tasks,
            "job_busy_s": busy,
            "driver_gap_s": max(root.dur - busy, 0.0),
            "gc_s": gc1 - ex0[0],
            "shuffle_write_bytes": sw1 - ex0[1],
        })

    # -- output ----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return {s.id: s.dur - union_len(kids.get(s.id, [])) for s in self.spans}

    def layer_totals(self, name: str) -> list[float]:
        """Per-op total duration of the layer spans called ``name``."""
        per_op: dict[int, float] = {}
        for s in self.spans:
            if s.kind == "layer" and s.name == name:
                per_op[s.op] = per_op.get(s.op, 0.0) + s.dur
        return list(per_op.values())

    def median_of(self, name: str) -> float:
        """Median over ops of the time spent in layer spans ``name``."""
        per_op = self.layer_totals(name)
        return statistics.median(per_op) if per_op else 0.0

    def first_job_delay(self, name: str) -> float:
        """Median over spans ``name`` of the time from the span's start to
        its first Spark job."""
        delays = []
        for sp in self.spans:
            if sp.kind == "layer" and sp.name == name:
                starts = [j.start for j in self.spans if j.kind == "job" and j.parent == sp.id]
                if starts:
                    delays.append(min(starts) - sp.start)
        return statistics.median(delays) if delays else 0.0

    def write(self, path: str) -> None:
        selft = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": selft[s.id]}) + "\n")


def tree_pids() -> list[int]:
    """This process and every live descendant: the Spark driver JVM and
    its Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss() -> None:
    """Restart every tree process's peak-RSS counter from its current RSS."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb() -> dict[str, float]:
    """Sum over the process tree of each process's peak RSS (VmHWM) since
    its counter was last reset, split into the Spark JVM (``java``) and
    everything else (``python``: this driver and the Python workers)."""
    total_kb = {"java": 0, "python": 0}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                kind = "java" if fh.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb[kind] += int(line.split()[1])
        except OSError:
            pass
    return {k: v / 1024.0 for k, v in total_kb.items()}
