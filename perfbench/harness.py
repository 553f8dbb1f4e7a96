"""Run plumbing shared by the workloads: the pinned environment, the Spark
session, peak-PSS sampling, CPU and steal clocks, spans, and per-layer
counters read from Spark's own status stores.  Nothing here reaches inside the engine; the counters
come from the stores every SparkContext keeps."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import threading
import time
from contextlib import contextmanager


def pin_env(root: str, work: str, cpus: int) -> None:
    """Environment for a run, set before the JVM starts.

    - the checkout root on PYTHONPATH, so Python workers import the engine
      wherever the benchmark is launched from;
    - a driver heap well below host RAM (the engine's default is 48g),
      committed up front (-Xms) so peak RSS does not hinge on when the
      heap happens to grow;
    - a fixed core count;
    - TMPDIR, Spark local dirs, warehouse, Derby home and java.io.tmpdir in the
      run's work directory, so the engine's on-disk index caches (keyed
      under tempfile.gettempdir()) are rebuilt by every run's set-up and
      nothing is written outside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": root + (os.pathsep + path if path else ""),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Xms2g -Dderby.system.home={os.path.join(work, 'derby')}' "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Session:
    """The SparkSession of a run: one JVM launch, then restarts inside it
    (each set-up repetition starts a fresh SparkContext)."""

    def __init__(self):
        self.spark = None

    def start(self):
        from kcl_akka_stream_spark.session import get_session

        self.spark = get_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self, cpus: int | None = None):
        if cpus is not None:
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        self.stop()
        return self.start()

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def close(self, timeout: float = 30.0) -> None:
        """Stop the session, shut the JVM down and wait until it and every
        other process this run started (Python workers included) has ended."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + timeout
        while _descendants() and time.time() < deadline:
            time.sleep(0.1)


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name: index 0 is the
    state, 1 the parent pid, 11..14 utime, stime, cutime, cstime."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process visible in /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            fields = _stat_fields(f"/proc/{d}/stat")
            if fields:
                parent[int(d)] = int(fields[1])
    return parent


def _descendants(exclude: set[int] = frozenset()) -> list[int]:
    """Live descendants of this process, not counting those under an
    excluded pid."""
    me = os.getpid()
    parent = _parents()
    out = []
    for pid in parent:
        p = pid
        while p in parent and p != me and p not in exclude:
            p = parent[p]
        if p == me and pid != me and pid not in exclude:
            out.append(pid)
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(exclude: set[int] = frozenset(), skip_tids: tuple[int, ...] = ()) -> float:
    """CPU time (user + system) used so far by this process's threads other
    than ``skip_tids`` and by its live descendants, each with the children
    it has reaped (so exited Python workers still count).  Time the
    hypervisor stole is in none of these, so differences of this clock move
    much less than wall time when neighbours load the host."""
    ticks = 0
    for pid in _descendants(exclude):
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields:
            ticks += sum(int(x) for x in fields[11:15])
    fields = _stat_fields("/proc/self/stat")
    ticks += int(fields[11]) + int(fields[12])
    for tid in skip_tids:
        fields = _stat_fields(f"/proc/self/task/{tid}/stat")
        if fields:
            ticks -= int(fields[11]) + int(fields[12])
    return ticks / _CLK_TCK


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between: a
    run with a high share was slowed by its neighbours, not by the code."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it, so forked Python workers are not
    counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed PSS of this process's descendants (the driver JVM and
    its Python workers), minus any excluded pids, sampled every 0.2 s."""

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak = 0
        self.tid = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        self.tid = threading.get_native_id()
        while not self._stop.wait(0.2):
            total = sum(_pss_bytes(pid) for pid in _descendants(self.exclude))
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


class Tracer:
    """In-memory spans (name, start, end, parent, trace id).  Disabled, it
    records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, trace: str | None = None) -> int:
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end, "parent": parent, "trace": trace})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, trace: str | None = None):
        """Yields the span id; the span's end is filled in on exit."""
        if not self.enabled:
            yield -1
            return
        sid = self.add(name, time.time(), 0.0, parent, trace)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()


#: Physical-plan operators that run on the Arrow/Python boundary.
_PYTHON_EXEC = re.compile(r"Python|InPandas|InArrow|PandasUDF")


class StageCounters:
    """Stage and job counters from the SparkContext's status store, read for
    a wall-clock window (the benchmark runs one client at a time, so a
    window holds exactly one pass or execution).  A stage counts as a
    Python stage when its operator graph holds a Python exec node."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._empty = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._list = jvm.java.util.ArrayList

    def _is_python(self, stage_id: int) -> bool:
        """Whether the stage's operator graph holds a Python exec."""
        todo = [self._store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            c = todo.pop()
            if _PYTHON_EXEC.search(c.name()):
                return True
            todo.extend(self._conv.asJava(c.childClusters()))
        return False

    def window(self, start: float, end: float) -> dict:
        """Counters of every stage submitted within [start, end] (epoch s)."""
        self._bus.waitUntilEmpty()
        lo, hi = start * 1000.0, end * 1000.0
        stages = {}
        for s in self._conv.asJava(self._store.stageList(self._list(), False, False, self._empty, self._list())):
            sub = s.submissionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime()
            if t0 > hi:
                continue
            if t0 < lo:
                break  # listed newest first
            comp = s.completionTime()
            stages[s.stageId()] = {
                "start": t0 / 1000.0,
                "end": (comp.get().getTime() if comp.isDefined() else hi) / 1000.0,
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "gc_ms": s.jvmGcTime(),
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "python": self._is_python(s.stageId()),
            }
        jobs = 0
        for j in self._conv.asJava(self._store.jobsList(self._list())):
            sub = j.submissionTime()
            if sub.isDefined() and lo <= sub.get().getTime() <= hi:
                jobs += 1
        from stats import driver_gap

        st = list(stages.values())
        py = [s for s in st if s["python"]]
        return {
            "jobs": jobs,
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "run_ms": sum(s["run_ms"] for s in st),
            "cpu_ms": sum(s["cpu_ms"] for s in st),
            "gc_ms": sum(s["gc_ms"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
            "spill_bytes": sum(s["spill"] for s in st),
            "python_wait_ms": sum(max(0.0, s["run_ms"] - s["cpu_ms"]) for s in py),
            "python_stage_share": len(py) / len(st) if st else 0.0,
            "driver_gap_ms": 1000.0 * driver_gap(start, end, [(s["start"], s["end"]) for s in st]),
        }


def progress_listener(sink: list):
    """A StreamingQueryListener appending every progress event's JSON to
    ``sink`` (trigger phases, input rows, state-operator metrics)."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802 - Spark API
            pass

        def onQueryProgress(self, event):  # noqa: N802
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Listener()
