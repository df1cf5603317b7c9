"""Tracing from outside the program: spans around calls into each layer,
Spark job/stage counters attributed to spans, codegen counters, and the
peak RSS of the whole process tree.

Spans are kept in memory and written out when the run ends. Spark jobs are
attributed to the innermost span open at their submission time, not by job
group, because job groups do not reach the worker threads some operators
submit from.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    thread: str = ""
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while enabled; a disabled tracer records nothing and
    installs no wrappers."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.counts: dict[str, int] = {}
        self._count_lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(
            name=name,
            start=time.time(),
            parent=stack[-1].id if stack else None,
            run_id=self.run_id,
            thread=threading.current_thread().name,
            id=len(self.spans),
            attrs=attrs,
        )
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace owner.attr with a wrapper that records a span per call."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def count(self, owner: object, attr: str, name: str) -> None:
        """Replace owner.attr with a wrapper that adds one to counts[name]
        per call: for calls made thousands of times per operation, where a
        span each would cost more than the call."""
        original = getattr(owner, attr)

        def counted(*args, **kwargs):
            with self._count_lock:
                self.counts[name] = self.counts.get(name, 0) + 1
            return original(*args, **kwargs)

        setattr(owner, attr, counted)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def subtree(self, root: Span) -> list[Span]:
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out


# --- Spark counters ----------------------------------------------------------

STAGE_FIELDS = (
    "numTasks", "numCompleteTasks", "numFailedTasks", "executorRunTime",
    "jvmGcTime", "inputBytes", "inputRecords", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def spark_jobs(spark) -> list[dict]:
    """Every job the status store holds: id, submission time (epoch s) and
    the counters of each stage it ran (read with spark.ui.enabled=false)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        if not sub.isDefined():
            continue
        ids = j.stageIds()
        stages = []
        for k in range(ids.size()):
            sid = ids.apply(k)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            if str(st.status().toString()) not in ("COMPLETE", "FAILED"):
                continue
            row = {f: int(getattr(st, f)()) for f in STAGE_FIELDS}
            row["stage_id"] = int(sid)
            stages.append(row)
        out.append(
            {
                "job_id": int(j.jobId()),
                "submitted": sub.get().getTime() / 1000.0,
                "stages": stages,
            }
        )
    return out


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs submitted while it was the innermost open span."""
    by_span: dict[int, list[dict]] = {}
    for job in jobs:
        t = job["submitted"]
        inner = None
        for s in tracer.spans:
            # job submission times have millisecond resolution
            if s.start - 0.0005 <= t <= s.end + 0.0005:
                if inner is None or s.start >= inner.start:
                    inner = s
        if inner is not None:
            by_span.setdefault(inner.id, []).append(job)
    return by_span


def jobs_under(tracer: Tracer, by_span: dict, root: Span) -> list[dict]:
    return [j for s in tracer.subtree(root) for j in by_span.get(s.id, [])]


def stage_totals(jobs: list[dict]) -> dict:
    """Sum stage counters over jobs, counting each stage once."""
    seen: dict[int, dict] = {}
    for j in jobs:
        for st in j["stages"]:
            seen[st["stage_id"]] = st
    tot = {f: sum(st[f] for st in seen.values()) for f in STAGE_FIELDS}
    tot["jobs"] = len(jobs)
    tot["stages"] = len(seen)
    tot["scan_stages"] = sum(1 for st in seen.values() if st["inputRecords"] > 0)
    tot["exchanges"] = sum(1 for st in seen.values() if st["shuffleWriteBytes"] > 0)
    return tot


def codegen_counters(spark) -> tuple[int, float]:
    """(compiles, total compile ms) from Spark's CodegenMetrics histogram.
    The histogram's reservoir holds every sample until 1028 compiles; past
    that the total is estimated as count x mean."""
    jvm = spark.sparkContext._jvm
    hist = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$").__getattr__(
        "MODULE$"
    ).METRIC_COMPILATION_TIME()
    n = int(hist.getCount())
    snap = hist.getSnapshot()
    if n <= 1028:
        return n, float(sum(snap.getValues()))
    return n, float(snap.getMean()) * n


# --- peak RSS of the process tree --------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of `root` and its descendants: RSS with
    each shared page split among the processes sharing it, so forked
    workers do not count their parent's pages twice."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def tree_cpu_seconds(root: int) -> float:
    """CPU time, user and system, of `root` and its descendants (the JVM and
    its Python workers), reaped children included. Time the hypervisor gave
    to other tenants is not in it."""
    kids = _children_map()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the memory of this process and all its descendants (the JVM
    and its Python workers) together and keeps the maximum."""

    # Each sample walks /proc holding the GIL that the driver's py4j calls
    # also need, so it samples only twice a second.
    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


def dump(path: str, tracer: Tracer, jobs: list[dict], extra: dict) -> None:
    import json

    with open(path, "w") as f:
        json.dump(
            {"spans": [asdict(s) for s in tracer.spans], "jobs": jobs, **extra},
            f,
        )


# --- host contention ----------------------------------------------------------


def cpu_jiffies() -> tuple[int, int]:
    """(total, stolen) CPU jiffies of this machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]

