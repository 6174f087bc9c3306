"""Run-time plumbing of the benchmark: host-fitted Spark session, spans,
Spark job accounting, memory and disk accounting, process teardown.

Everything here observes the engine from outside: spans wrap calls into
the engine's public functions, Spark jobs are attributed to a span through
``SparkContext.setJobGroup`` and counted with ``statusTracker()``.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
OUT_ROOT = os.path.join(REPO, ".perfbench_out")


def host_settings() -> dict[str, str]:
    """Session settings fitted to the machine the benchmark runs on.

    * ``SPARK_GRAFT_CPUS``: the CPUs this process may run on, so
      ``local[N]`` matches the host instead of the 32-core default.
    * ``SPARK_DRIVER_MEM``: a quarter of physical memory, at most 4 GiB
      (the engine's default of 24g exceeds many hosts).
    * ``SPARK_LOCAL_DIRS``: a directory owned by this process alone; a
      shared directory lets one run delete another's shuffle files.
    """
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f
                         if line.startswith("MemTotal:"))
    mem_gib = max(1, min(4, total_kib // (4 * 1024 * 1024)))
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    return {"SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": f"{mem_gib}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp")}


def start_spark(settings: dict[str, str]):
    """Apply ``settings`` to the environment and start the session with the
    engine's own factory. Returns (spark, seconds taken)."""
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    os.environ.update(settings)
    # engine workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    # no JVM writes its perf-data file to the system temp directory
    no_perf_file = "-XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = no_perf_file
    t0 = time.perf_counter()
    from review_recommender_spark.session import get_spark
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={settings['TMPDIR']} {no_perf_file}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both the
    JVM and every Python worker below this process to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launched JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    reap_descendants()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every process below this one to exit; kill stragglers."""
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and every live
    process below it: the driver, the JVM and the Python workers."""
    total_kib = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
        except OSError:
            continue
    return total_kib / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    stats: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the engine, kept in memory.

    Disabled, ``span`` yields a throw-away record with ``stats=None`` and
    touches neither Spark nor the clock, so untraced runs pay nothing.
    Enabled, each span owns a Spark job group: the jobs its call launches
    (and their tasks) are counted when it closes, and ``stats`` is a dict
    to hand to the engine's ``stats=`` keyword."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield Span(-1, name, None, -1)
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans) + len(self._stack)
        sp = Span(sid, name, parent.id if parent else None,
                  request if request is not None
                  else (parent.request if parent else sid),
                  stats={})
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._count_jobs(sp)
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def _count_jobs(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(f"perfbench-{sp.id}"):
            sp.jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp.tasks += stage.numCompletedTasks + stage.numFailedTasks
                    sp.failed_tasks += stage.numFailedTasks

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the time its direct children cover (spans
        are sequential on one thread, so children never overlap)."""
        covered = sum(c.seconds for c in self.spans if c.parent == sp.id)
        return sp.seconds - covered

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.id]
        while todo:
            pid = todo.pop()
            for c in self.spans:
                if c.parent == pid:
                    out.append(c)
                    todo.append(c.id)
        return out

    def total_jobs(self, sp: Span) -> int:
        return sp.jobs + sum(c.jobs for c in self.subtree(sp))

    def total_tasks(self, sp: Span) -> int:
        return sp.tasks + sum(c.tasks for c in self.subtree(sp))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "request": s.request, "start": s.start, "end": s.end,
                    "self_s": self.self_seconds(s), "jobs": s.jobs,
                    "tasks": s.tasks, "failed_tasks": s.failed_tasks})
                        + "\n")
