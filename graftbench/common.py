"""Shared run machinery: per-run state isolation, the Spark session's
lifetime, process-tree RSS, host CPU steal, and the tracer that reads
Spark's public counters around calls into the package's layers.

Nothing here reaches inside the package: the benchmark times calls to
its public functions and reads StatusTracker / AppStatusStore."""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time

from py4j.protocol import Py4JJavaError

CORES = 4


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- processes

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
        # the command name may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it. Summed over a process tree it counts every
    page once, where RSS would count a page once per sharer, e.g. twice
    for a JVM and the child it has just forked."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers, loadgen), summed as PSS, every
    ``period_s``; keeps the peak and its split by process name."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        rss = {p: _pss_kb(p) for p in [me, *descendants(me)]}
        total = sum(rss.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_split = {}
            for p, kb in rss.items():
                name = _comm(p)
                self.peak_split[name] = self.peak_split.get(name, 0) + kb // 1024

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


class StealMeter:
    """Share of host CPU time stolen by the hypervisor over a window."""

    def __init__(self) -> None:
        self._steal0, self._total0 = _cpu_times()

    def share(self) -> float:
        steal, total = _cpu_times()
        return (steal - self._steal0) / max(1, total - self._total0)


# ---------------------------------------------------------------- run state

class RunDir:
    """A fresh directory per run that every piece of mutable state points
    at: TMPDIR (and so ``tempfile.gettempdir()``, where the package keeps
    persisted ANN indexes and the crawl-frontier seen-set), the JVM's
    temp dir, SPARK_LOCAL_DIRS, the warehouse, checkpoints and the bus."""

    def __init__(self, checkout: str, workload: str, seed: int):
        base = os.path.join(checkout, ".graftbench")
        self.path = os.path.join(
            base, f"{workload}-s{seed}-{os.getpid()}-{time.time_ns()}"
        )
        for sub in ("tmp", "local", "warehouse", "data", "state"):
            os.makedirs(os.path.join(self.path, sub), exist_ok=True)
        self.tmp = self.sub("tmp")
        self.data = self.sub("data")
        self.state = self.sub("state")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        # every JVM (the launcher's too) would otherwise keep a perf-data
        # file in /tmp, outside the run directory
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(run_dir: RunDir, memory: str = "2g"):
    """The package's session factory at ``local[CORES]``, with every
    on-disk location inside the run directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    from big_data_occupancy_detection_spark.session import get_session

    tmp = run_dir.tmp
    spark = get_session(
        app_name="graftbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": memory,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": run_dir.sub("warehouse"),
            "spark.local.dir": run_dir.sub("local"),
            # the heap starts at its full size, so peak RSS does not hang
            # on when the collector decides to grow it
            "spark.driver.extraJavaOptions": (
                f"-Xms{memory} -Duser.timezone=UTC -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_everything(spark) -> None:
    """Stop Spark, then make sure no descendant process outlives the run:
    terminate what is left, wait for it, and kill what will not go."""
    tree = descendants(os.getpid())
    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
    tree = set(tree) | set(descendants(os.getpid()))
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        for p in alive:
            with contextlib.suppress(ProcessLookupError, PermissionError):
                os.kill(p, sig)
        deadline = time.monotonic() + 5
        while alive and time.monotonic() < deadline:
            for p in alive:
                with contextlib.suppress(ChildProcessError, OSError):
                    os.waitpid(p, os.WNOHANG)
            alive = [p for p in alive if _alive(p)]
            time.sleep(0.05)
        if not alive:
            return


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------- tracing

class Span:
    __slots__ = ("name", "parent", "start", "end", "counts", "group", "tagged")

    def __init__(self, name: str, parent: str | None, group: str):
        self.name, self.parent, self.group = name, parent, group
        self.start = self.end = 0.0
        self.tagged = False
        self.counts: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            **self.counts,
        }


class Tracer:
    """Spans at the layer boundaries, kept in memory.

    Every span is timed, traced or not, because the end-to-end metrics
    come from the same timings. Only when ``enabled`` does a span tag its
    Spark jobs with a job group and, on exit, read the group's jobs,
    stages, tasks, task time, shuffle and spill from StatusTracker and
    AppStatusStore. The time those reads take is the tracing overhead."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._seq = 0
        self.spark = spark

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        s = Span(name, parent.name if parent else None, f"gb{self._seq}")
        s.tagged = self.enabled and spark_jobs
        if s.tagged:
            self.spark.sparkContext.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.tagged:
                t0 = time.perf_counter()
                s.counts = spark_counts(self.spark, s.group)
                sc = self.spark.sparkContext
                if parent is not None and parent.tagged:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self.overhead_s += time.perf_counter() - t0
            if self.enabled:
                self.spans.append(s)

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]


def spark_counts(spark, group: str) -> dict[str, float]:
    """Jobs, executed stages, tasks, task seconds, shuffle and spill of
    one job group, read from StatusTracker and AppStatusStore once the
    listener bus has delivered every event of the group's jobs."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict(jobs=len(jobs), stages=0, tasks=0, task_s=0.0,
               shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted or never submitted: nothing ran
            continue
        if sd.status().toString() != "COMPLETE":
            continue  # skipped stages reuse an earlier shuffle
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["task_s"] += sd.executorRunTime() / 1000.0
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
    return out
