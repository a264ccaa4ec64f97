"""Spans around calls into the package's layers, Spark job/stage metrics
for each span's job group, and a /proc RSS sampler.

A span records (name, start, end, parent, operation id). With tracing on,
each span runs under its own Spark job group; after the operation ends
(outside its timed region) :meth:`Tracer.finish_op` reads the jobs of
every group from the status tracker and the status store. Each job
becomes a child span named ``spark.job``, so a layer's self time is its
span minus the Spark jobs it waited for, and the ``spark`` layer's self
time is the union of its job intervals. Spans stay in memory until
:meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

RSS_INTERVAL_S = 0.5


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    id: int
    group: str | None = None
    counts: dict = field(default_factory=dict)


def _union(intervals: list[tuple[float, float]]) -> float:
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
    """Records spans when ``enabled``; otherwise every span is a no-op
    (no job group is set and nothing is read from Spark)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = -1
        self._ngroup = 0
        self.sc = spark.sparkContext
        # perf_counter = epoch - offset (Spark reports epoch milliseconds)
        self._offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self._ngroup += 1
        group = f"perfbench-{self._op}-{self._ngroup}"
        sp = Span(name, time.perf_counter(), 0.0, parent, self._op, sid, group)
        self.spans.append(sp)
        self._stack.append(sid)
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, name: str):
        """The root span of one operation (its own id)."""
        self._op += 1
        with self.span(name) as sp:
            yield sp

    # -- reading Spark's status after the operation -------------------------

    def finish_op(self) -> None:
        """Attach Spark jobs and stage metrics to the last operation's
        spans. Runs outside the timed region."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sp in [s for s in self.spans if s.op == self._op and s.name != "spark.job"]:
            c = sp.counts
            for jid in sorted(tracker.getJobIdsForGroup(sp.group)):
                jd = store.job(jid)
                c["jobs"] = c.get("jobs", 0) + 1
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    s = jd.submissionTime().get().getTime() / 1000.0 - self._offset
                    e = jd.completionTime().get().getTime() / 1000.0 - self._offset
                    self.spans.append(Span(
                        "spark.job", max(s, sp.start), min(e, sp.end),
                        sp.id, sp.op, len(self.spans),
                    ))
                ids = jd.stageIds()
                for i in range(ids.size()):
                    self._add_stage(c, store, jvm, ids.apply(i), quantiles)

    @staticmethod
    def _add_stage(c: dict, store, jvm, stage_id: int, quantiles) -> None:
        attempts = store.stageData(stage_id, False, jvm.java.util.ArrayList(), True, quantiles)
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] = c.get("stages", 0) + 1
            for key, val in (
                ("tasks", sd.numCompleteTasks() + sd.numFailedTasks()),
                ("failed_tasks", sd.numFailedTasks()),
                ("executor_run_s", sd.executorRunTime() / 1e3),
                ("executor_cpu_s", sd.executorCpuTime() / 1e9),
                ("gc_s", sd.jvmGcTime() / 1e3),
                ("shuffle_read_bytes", sd.shuffleReadBytes()),
                ("shuffle_write_bytes", sd.shuffleWriteBytes()),
                ("spill_bytes", sd.diskBytesSpilled() + sd.memoryBytesSpilled()),
            ):
                c[key] = c.get(key, 0) + val
            dist = sd.taskMetricsDistributions()
            if sd.numTasks() > 1 and dist.isDefined():
                rt = dist.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                c.setdefault("skews", []).append(mx / med if med > 0 else 1.0)

    # -- summaries ----------------------------------------------------------

    def last(self, name: str) -> Span:
        return next(s for s in reversed(self.spans) if s.name == name)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def self_times(self, op: int) -> dict[str, float]:
        """Self time of each layer in one operation (span duration minus
        the part its child spans cover), plus ``remainder``: the
        operation's wall time that no layer span covers."""
        spans = self.op_spans(op)
        root = next(s for s in spans if s.parent is None)
        out: dict[str, float] = {"spark": 0.0}
        for s in spans:
            if s.name == "spark.job":
                continue
            kids = [k for k in spans if k.parent == s.id]
            # jobs of one span can run concurrently: count their union
            out["spark"] += _union([(k.start, k.end) for k in kids if k.name == "spark.job"])
            if s is not root:
                layer = s.name.split(".")[0]
                busy = _union([(k.start, k.end) for k in kids])
                out[layer] = out.get(layer, 0.0) + (s.end - s.start) - busy
        top = [(s.start, s.end) for s in spans if s.parent == root.id]
        out["remainder"] = (root.end - root.start) - _union(top)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


class RssSampler:
    """Peak resident memory of a process tree (the Spark JVM and the
    Python workers it forks), sampled from /proc on a background thread."""

    def __init__(self):
        self.pid: int | None = None
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self, pid: int) -> None:
        self.pid = pid
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak_bytes / 1e6

    @staticmethod
    def _tree_rss(root: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        page = os.sysconf("SC_PAGE_SIZE")
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * page
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, []))
        return total

    def sample(self) -> None:
        if self.pid is not None:
            self.peak_bytes = max(self.peak_bytes, self._tree_rss(self.pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)
