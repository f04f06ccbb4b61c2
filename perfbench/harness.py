"""Shared measurement harness: session start, CPU/JIT/GC/steal meters,
the span tracer, the state of one run, and the statistics every
workload reports with.

Nothing here starts a process or touches the disk on import.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Sequence

# -- statistics -----------------------------------------------------------

#: a reported percentile needs at least this many samples beyond it
TAIL_SAMPLES = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile ``p`` (0-100) of ``values``. Raises if
    fewer than ``TAIL_SAMPLES`` samples lie beyond it, so a tail is
    never read off a handful of points (the median of any non-empty
    set is always allowed)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(xs)))
    if p > 50 and len(xs) - rank < TAIL_SAMPLES:
        raise ValueError(
            f"p{p:g} of {len(xs)} samples has {len(xs) - rank} beyond it; "
            f"need {TAIL_SAMPLES}"
        )
    return xs[rank - 1]


def min_samples_for(p: float) -> int:
    """Fewest samples for which ``percentile(values, p)`` is allowed."""
    n = 1
    while True:
        rank = max(1, math.ceil(p / 100 * n))
        if p <= 50 or n - rank >= TAIL_SAMPLES:
            return n
        n += 1


def geomean(values: Sequence[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def spread(values: Sequence[float]) -> dict:
    """Median, quartiles, extremes and IQR as a share of the median
    (the steadiness rule: ``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "n": len(values), "median": med, "q1": q1, "q3": q3,
        "min": min(values), "max": max(values),
        "iqr_share": (q3 - q1) / med if med else float("inf"),
    }


# -- meters ---------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU-s incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            tail = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # fields after the name: state ppid ... utime(12) stime(13) cutime cstime
    return int(tail[1]), sum(int(x) for x in tail[11:15]) / _TICK


def tree_cpu_s(root: int) -> float:
    """CPU-seconds of ``root`` and every live descendant (the JVM and
    the Python workers it forks), including reaped children."""
    parents: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                parents[int(name)], cpu[int(name)] = st
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p and p != root:
            p = parents.get(p, 0)
        if p == root:
            total += c
    return total


#: JVM thread-name prefixes (``comm``, at most 15 characters) by class
THREAD_CLASSES = (
    ("jit", ("C2 CompilerThre", "C1 CompilerThre")),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
    ("tasks", ("Executor task l",)),
)


def thread_cpu_s(pid: int) -> dict[str, tuple[str, float]]:
    """(class, CPU-seconds) of each live thread of a process that falls
    in a ``THREAD_CLASSES`` class, by thread id, from /proc/<pid>/task."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except (FileNotFoundError, ProcessLookupError):
            continue
        comm = head.split("(", 1)[1]
        for name, prefixes in THREAD_CLASSES:
            if comm.startswith(prefixes):
                fields = tail.split()
                out[tid] = name, (int(fields[11]) + int(fields[12])) / _TICK
                break
    return out


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return fields[7], sum(fields[:8])


class Meters:
    """Cumulative counters of the driver session, read at op
    boundaries: JVM-tree CPU, driver-Python CPU, JIT compile time, GC
    time and machine steal."""

    def __init__(self, spark):
        self._jvm = jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        # last CPU read of every classified thread seen, so a thread the
        # JVM retires (compiler threads come and go) keeps its share
        self._threads: dict[str, tuple[str, float]] = {}

    def settle(self, quiet_s: float = 0.5, max_s: float = 5.0) -> None:
        """Collect the heap and wait (up to ``max_s``) until the JIT has
        compiled nothing for ``quiet_s``, so every timed window starts
        from the same JVM state instead of racing the warm-up's
        compile backlog."""
        self._jvm.java.lang.System.gc()
        deadline = time.perf_counter() + max_s
        last = self._comp.getTotalCompilationTime()
        while time.perf_counter() < deadline:
            time.sleep(quiet_s)
            now = self._comp.getTotalCompilationTime()
            if now == last:
                return
            last = now

    def read(self) -> dict:
        steal, total = steal_ticks()
        self._threads.update(thread_cpu_s(self.jvm_pid))
        by_class = {f"thr_{name}": 0.0 for name, _ in THREAD_CLASSES}
        for name, cpu in self._threads.values():
            by_class[f"thr_{name}"] += cpu
        return {
            "wall": time.perf_counter(),
            "jvm_cpu": tree_cpu_s(self.jvm_pid),
            "py_cpu": time.process_time(),
            "jit": self._comp.getTotalCompilationTime() / 1000.0,
            "gc": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
            "steal": steal,
            "ticks": total,
            **by_class,
        }

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}


# -- tracing --------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, op id) around each call the
    benchmark makes into an engine layer, kept in memory and written
    once at exit. When enabled, each span also runs its Spark jobs
    under its own job group, so jobs and tasks are attributed to the
    innermost span that caused them. Disabled, ``span`` is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if enabled else None
        self.op_id: int | None = None
        self.overhead_s = 0.0  # time spent in tracing bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, role: str | None = None, **counts):
        """``role`` is "plan" (building plans, pruning) or "exec"
        (running Spark work); ``counts`` may be filled in by the body."""
        if not self.enabled:
            yield counts
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "role": role, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None, "counts": counts}
        self.spans.append(rec)
        self._stack.append(idx)
        self._sc.setJobGroup(f"span-{idx}", name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(f"span-{self._stack[-1]}", "")
            else:
                self._sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - rec["end"]

    def collect_jobs(self, first_span: int) -> None:
        """Fill jobs/tasks of spans ``first_span..`` from the status
        tracker, after the listener bus has delivered every event."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for idx in range(first_span, len(self.spans)):
            jobs = st.getJobIdsForGroup(f"span-{idx}")
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    tasks += sinfo.numCompletedTasks
            self.spans[idx]["jobs"] = len(jobs)
            self.spans[idx]["tasks"] = tasks
        self.overhead_s += time.perf_counter() - t0

    def self_times(self, key: str = "name") -> dict[str, float]:
        """Total self time per span name (or role) over the timed ops:
        duration minus the part its children cover (children run inside
        the parent, one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] is not None:
                out[s[key]] = out.get(s[key], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def totals(self, key: str) -> dict[str, float]:
        """Per span name over the timed ops: total duration (``key`` =
        "wall"), number of spans ("calls"), or the sum of a count (jobs,
        tasks, or a ``counts`` entry) over each span and the spans
        inside it."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] is None:
                continue
            if key in ("wall", "calls"):
                v = s["end"] - s["start"] if key == "wall" else 1
                out[s["name"]] = out.get(s["name"], 0) + v
                continue
            v = s.get(key, s["counts"].get(key, 0))
            p: dict | None = s
            while p is not None:
                out[p["name"]] = out.get(p["name"], 0) + v
                p = None if p["parent"] is None else self.spans[p["parent"]]
        return out

    def write(self, path: str, t0: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


# -- one run ----------------------------------------------------------------


def process_age_s() -> float:
    """Seconds since this process started (kernel start time), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


class OpFailed(Exception):
    """An operation returned a wrong answer."""


class Run:
    """State of one benchmark run, shared by the workload and the
    reporting: timed operations by kind, checked answers and the
    meters."""

    def __init__(self, spark, meters, tracer, seed: int, seconds: float, work: str):
        self.spark, self.meters, self.tracer = spark, meters, tracer
        self.seed, self.seconds, self.work = seed, seconds, work
        self.samples: dict[str, list[dict]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.setup_s: float | None = None
        self.first: dict | None = None
        self.last: dict | None = None
        self.block_spans: tuple[int, int] | None = None  # spans of the count block
        self.block_ops = 0

    @property
    def n_ops(self) -> int:
        return sum(len(v) for v in self.samples.values())

    def kind_medians(self, key: str) -> list[float]:
        return [statistics.median(d[key] for d in v) for v in self.samples.values()]

    def per_op(self, key: str) -> float:
        """Geometric mean of each op kind's median: every kind (a
        query, a day, a serving op type) weighs the same whatever its
        count in the mix, and a window that ends part-way through a
        pass, or holds a rare slow op, moves it little. For figures
        that are never 0 (wall, CPU)."""
        return geomean(self.kind_medians(key))

    def part_per_op(self, key: str) -> float:
        """Arithmetic mean of each op kind's median, for the parts and
        attributions of a per-op figure (JVM and Python CPU, JIT, GC),
        which can be 0 for a kind."""
        return statistics.fmean(self.kind_medians(key))

    def steal_share(self) -> float:
        """The machine's steal share over the timed window."""
        d = Meters.delta(self.first, self.last)
        return d["steal"] / d["ticks"] if d["ticks"] else 0.0

    def elapsed(self) -> float:
        return 0.0 if self.first is None else time.perf_counter() - self.first["wall"]

    def done(self) -> bool:
        return self.elapsed() >= self.seconds

    def check(self, ok: bool, what: str) -> None:
        """Count one checked answer outside the timed window."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG: {what}", file=sys.stderr)

    @contextlib.contextmanager
    def op(self, kind: str, block: bool = False):
        """One timed operation. An exception (or ``OpFailed``) counts
        it failed and the loop goes on; ``block`` ops form the fixed
        block whose job and task counts are reported."""
        n_spans = len(self.tracer.spans)
        self.tracer.op_id = self.attempted
        m0 = self.meters.read()
        if self.first is None:
            self.first = m0
        self.attempted += 1
        ok = True
        try:
            yield
        except Exception as exc:  # count it, keep the closed loop running
            ok = False
            self.failed += 1
            print(f"FAILED {kind}: {exc!r}", file=sys.stderr)
            if not isinstance(exc, OpFailed):
                traceback.print_exc(file=sys.stderr)
        m1 = self.meters.read()
        self.last = m1
        self.tracer.op_id = None  # later spans belong to no timed op
        self.tracer.collect_jobs(n_spans)
        if ok:
            d = self.meters.delta(m0, m1)
            d["cpu"] = d["jvm_cpu"] + d["py_cpu"]
            self.samples[kind].append(d)
        if block:
            start = n_spans if self.block_spans is None else self.block_spans[0]
            self.block_spans = (start, len(self.tracer.spans))
            self.block_ops += 1


# -- session --------------------------------------------------------------


def start_session(work: str, cores: int):
    """Start the engine's session with every scratch path inside
    ``work``. Returns (spark, seconds spent in the engine's factory)."""
    from end_to_end_etl_pipeline_spark.session import create_spark_session

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    t0 = time.perf_counter()
    spark = create_spark_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf={
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files and perf data out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        },
    )
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s
