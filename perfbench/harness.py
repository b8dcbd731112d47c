"""Measurement plumbing shared by the workloads.

- host checks and ``/proc`` readings (CPU of the process tree, peak RSS,
  hypervisor steal);
- the operation log that counts attempts and failures;
- the percentile rule;
- spans and their self-time arithmetic;
- the Spark probe that tags each operation's jobs and reads the status
  store and the executed plan's SQL metrics.

Nothing here imports the package under test, so the tests of this file
run without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


# -- host ---------------------------------------------------------------------

def host_cpus() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def check_cpus(env: dict[str, str], nproc: int) -> None:
    """Refuse a ``SPARK_GRAFT_CPUS`` wider than the host."""
    want = env.get("SPARK_GRAFT_CPUS")
    if want is not None and int(want) > nproc:
        raise ValueError(
            f"SPARK_GRAFT_CPUS={want} exceeds nproc={nproc}; "
            "the benchmark runs at local[nproc] only")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+sys CPU of the tree, reaped children included. A process
    that exits between two readings is counted through its parent's
    ``cutime``/``cstime``, so the difference of two readings is the
    CPU spent between them."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user, so the total stops at steal
    return vals[7], sum(vals[:8])


class ResourceMonitor:
    """CPU, steal and peak RSS of the process tree over one section.
    A sampler thread reads RSS every ``interval`` seconds."""

    def __init__(self, root: int | None = None, interval: float = 0.25):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "ResourceMonitor":
        self._cpu0 = tree_cpu_s(self.root)
        self._steal0, self._total0 = cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.root))
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0
        steal, total = cpu_times()
        dt = total - self._total0
        self.steal_pct = 100.0 * (steal - self._steal0) / dt if dt else 0.0


# -- statistics -----------------------------------------------------------------

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile. Above the median it is refused
    (``ValueError``) unless at least ``MIN_BEYOND`` samples lie beyond
    it, so a p90 needs 100 samples."""
    if not values:
        raise ValueError("no samples")
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if q > 0.5 and n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it; "
            f"{MIN_BEYOND} needed")
    return sorted(values)[rank - 1]


def units(seconds: float, unit_s: float) -> int:
    """Whole units of work (cycles, passes) that fill about ``seconds``
    on the 4-vCPU host, at least one. The count depends on
    ``--seconds`` alone, never on how fast this run goes, so a slow
    host does the same work more slowly instead of less work."""
    return max(1, round(seconds / unit_s))


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# -- operations -------------------------------------------------------------------

@dataclass
class Op:
    op_id: int
    cls: str
    name: str
    start: float
    end: float
    ok: bool
    rows_in: int = 0
    error: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class OpLog:
    """Every operation the timed loop attempts. An operation that raises
    is counted as failed and the loop goes on; correctness-gate
    failures are not operations and never land here."""

    def __init__(self) -> None:
        self.ops: list[Op] = []

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.ops else 0.0

    def ok_ms(self, cls: str | None = None) -> list[float]:
        return [o.ms for o in self.ops if o.ok and (cls is None or o.cls == cls)]

    def run(self, cls: str, name: str, fn, rows_in: int = 0):
        """Time ``fn()`` as one operation; return its result, or None
        when it raised."""
        op = Op(len(self.ops), cls, name, time.perf_counter(), 0.0, True, rows_in)
        self.ops.append(op)
        result = None
        try:
            result = fn(op.op_id)
        except Exception as e:  # a failed operation is data, not a crash
            op.ok, op.error = False, f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        op.end = time.perf_counter()
        return result


# -- spans --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """Spans at the layer boundaries the benchmark calls into, kept in
    memory. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


# -- Spark ------------------------------------------------------------------------------

STAGE_FIELDS = (
    # (report name, StageData accessor, scale)
    ("run_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_mb", "inputBytes", 1 / MB),
    ("output_mb", "outputBytes", 1 / MB),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / MB),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / MB),
    ("fetch_wait_s", "shuffleFetchWaitTime", 1e-3),
    ("spill_mb", "diskBytesSpilled", 1 / MB),
)

# exec-node SQL metrics summed over an executed plan: (report name, metric, scale)
PLAN_METRICS = (
    ("files_scanned", "numFiles", 1),
    ("python.boot_ms", "pythonBootTime", 1),
    ("python.init_ms", "pythonInitTime", 1),
    ("python.eval_ms", "pythonTotalTime", 1),
    ("python.sent_mb", "pythonDataSent", 1 / MB),
    ("python.received_mb", "pythonDataReceived", 1 / MB),
    ("python.rows_received", "pythonNumRowsReceived", 1),
)


@dataclass
class JobStats:
    job_id: int
    start_ms: int
    end_ms: int
    tasks: int
    stages: dict[str, float] = field(default_factory=dict)


class SparkProbe:
    """Tags each operation's Spark jobs and reads them back from the
    status store right after the operation, before the store can evict
    their stages (``spark.ui.retainedStages``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.last_job = -1

    @contextmanager
    def tagged(self, op_id: int):
        tag = f"perfbench-op-{op_id}"
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def jobs_since_last(self, op_id: int) -> list[JobStats]:
        """The jobs tagged with ``op_id`` among those submitted since the
        previous call."""
        self.bus.waitUntilEmpty()
        tag = f"perfbench-op-{op_id}"
        out, newest = [], self.last_job
        it = self.store.jobsList(None).iterator()  # newest first
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            if not j.jobTags().contains(tag):
                continue
            sub, done = j.submissionTime(), j.completionTime()
            start = sub.get().getTime() if sub.isDefined() else 0
            end = done.get().getTime() if done.isDefined() else start
            js = JobStats(jid, start, end, j.numTasks())
            sit = j.stageIds().iterator()
            while sit.hasNext():
                for k, v in self._stage(sit.next()).items():
                    js.stages[k] = js.stages.get(k, 0.0) + v
            out.append(js)
        self.last_job = newest
        return out

    def _stage(self, sid: int) -> dict[str, float]:
        data = self.store.stageData(sid, False, None, False, None)
        out: dict[str, float] = {}
        for i in range(data.size()):
            sd = data.apply(i)
            for name, getter, scale in STAGE_FIELDS:
                out[name] = out.get(name, 0.0) + getattr(sd, getter)() * scale
        return out

    @staticmethod
    def plan_metrics(df) -> dict[str, float]:
        """SQL metrics of the executed plan of ``df``, summed by name
        over every node, AQE stages and subqueries included."""
        wanted = {metric: (name, scale) for name, metric, scale in PLAN_METRICS}
        out: dict[str, float] = {}
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                hit = wanted.get(kv._1())
                if hit:
                    out[hit[0]] = out.get(hit[0], 0.0) + kv._2().value() * hit[1]
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
            subs = node.subqueries()
            todo.extend(subs.apply(i) for i in range(subs.size()))
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(node.plan())
        return out


@dataclass
class OpRecord:
    """What the traced run learned about one operation."""
    op: Op
    jobs: list[JobStats]
    extra: dict[str, float]


class Ctx:
    """One run's session and instruments, passed to the workload."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.tracer = Tracer(traced)
        self.probe = SparkProbe(spark) if traced else None
        self.oplog = OpLog()
        self.records: list[OpRecord] = []
        self.extra: dict[int, dict[str, float]] = {}

    @property
    def traced(self) -> bool:
        return self.probe is not None

    def note(self, op_id: int, **values: float) -> None:
        """Attach per-operation layer readings (traced runs only)."""
        if self.traced:
            self.extra.setdefault(op_id, {}).update(values)

    def op(self, cls: str, name: str, fn, rows_in: int = 0):
        """Run ``fn(op_id)`` as one operation under a root span; traced,
        its Spark jobs carry the operation's tag and are read back
        right after it."""
        def body(op_id: int):
            with self.tracer.span(f"op.{cls}", op_id):
                if self.probe is None:
                    return fn(op_id)
                with self.probe.tagged(op_id):
                    return fn(op_id)

        result = self.oplog.run(cls, name, body, rows_in)
        if self.probe is not None:
            op = self.oplog.ops[-1]
            self.records.append(OpRecord(op, self.probe.jobs_since_last(op.op_id),
                                         self.extra.pop(op.op_id, {})))
        return result


def jobs_wall_s(jobs: list[JobStats]) -> float:
    """Wall time the jobs cover (their union), in seconds."""
    if not jobs:
        return 0.0
    lo = min(j.start_ms for j in jobs)
    hi = max(j.end_ms for j in jobs)
    return covered([(j.start_ms, j.end_ms) for j in jobs], lo, hi) / 1000.0
