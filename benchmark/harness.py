"""Session lifetime, spans and outside-in memory sampling.

One ``Bench`` owns one JVM for the whole run. The first context start is
the cold session start; each later phase stops the context and starts a
fresh one in the same JVM (new master, optionally with the event log on),
which is how one process measures local[N], local[N]+trace and local[1].
"""

from __future__ import annotations

import glob
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from benchmark import eventlog


@dataclass
class Span:
    layer: str
    call: str
    start: float  # epoch seconds
    end: float


def _descendants(root: int) -> list[int]:
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
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of every descendant of ``root`` (the driver JVM and
    the Python workers it forks), in MiB."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 2**20


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant, counting the children each has already reaped (Python
    workers that exited). Unlike wall time it leaves out the time the
    host's hypervisor ran other guests (steal). This process's own time
    is read to the nanosecond, the rest in clock ticks."""
    me, tick, ticks = os.getpid(), os.sysconf("SC_CLK_TCK"), 0
    for pid in [me, *_descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            # utime stime cutime cstime; this process's own two come below
            ticks += sum(int(f) for f in (fields[13:15] if pid == me else fields[11:15]))
        except (OSError, IndexError, ValueError):
            continue
    return time.process_time() + ticks / tick


class RssSampler:
    """Background thread sampling ``tree_rss_mb`` of this process."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Bench:
    """The benchmark's handle on Spark for one workload run."""

    def __init__(self, workload: str, workdir: str, cores: int):
        self.workload = workload
        self.workdir = workdir
        self.cores = cores
        self.spark = None
        self.master = f"local[{cores}]"
        self.spans: list[Span] = []  # of the phase being measured
        self._dirs = 0
        self._event_dir: str | None = None

    # --- session -----------------------------------------------------------
    def _builder(self, master: str, event_dir: str | None):
        from datapipelineetl_spark.session import session_builder

        local = os.path.join(self.workdir, "spark-local")
        os.makedirs(local, exist_ok=True)
        b = (
            session_builder(f"bench-{self.workload}", master=master, shuffle_partitions=self.cores)
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(self.workdir, "warehouse"))
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.eventLog.enabled", "true" if event_dir else "false")
        )
        if event_dir:
            b = (
                b.config("spark.eventLog.dir", event_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        return b

    def start(self, master: str | None = None, event_dir: str | None = None) -> float:
        """Start a Spark context for ``master`` / ``event_dir``, stopping the
        current one if it differs; returns seconds until a first job ran."""
        t0 = time.perf_counter()
        master = master or self.master
        if self.spark is not None:
            if (master, event_dir) == (self.master, self._event_dir):
                return 0.0
            self.spark.stop()
        self.master = master
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
        self._event_dir = event_dir
        self.spark = self._builder(self.master, event_dir).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    @property
    def tracing(self) -> bool:
        return self._event_dir is not None

    def close_trace(self) -> eventlog.Trace | None:
        """Stop the context so the event log is complete, then parse it."""
        if self.spark is None or not self._event_dir:
            return None
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        logs = glob.glob(os.path.join(self._event_dir, f"{app}*"))
        return eventlog.parse_file(logs[0]) if logs else None

    def shutdown(self) -> None:
        """Stop the context and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort at exit
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # --- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, call: str):
        """Time one call into a layer and tag its Spark jobs
        ``<workload>:<layer>:<call>``."""
        sc = self.spark.sparkContext
        tag = f"{self.workload}:{layer}:{call}"
        sc.setJobGroup(tag, tag)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, call, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def fresh_dir(self, *parts: str) -> str:
        """A new empty directory under the run's work dir. Names are never
        reused, so no set-up or pass pays for deleting an earlier one's
        files; the whole work dir goes when the run ends."""
        self._dirs += 1
        path = os.path.join(self.workdir, *parts[:-1], f"{parts[-1]}-{self._dirs}")
        os.makedirs(path)
        return path
