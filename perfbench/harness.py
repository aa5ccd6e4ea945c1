"""Session, scratch-space, timing and memory plumbing for the benchmark.

Everything a run writes lands under ``<checkout>/.perfbench_work/<tag>``,
which is removed when the run ends: Spark's local dirs, the embedded
metastore, Java and Python temp files and the event log.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

# Driver heap for every session, fixed in size (-Xms as well as -Xmx) so
# resident memory does not follow the collector's resizing. At 1g,
# dedup_docs could not keep its pair lists cached in memory.
DRIVER_MEMORY = "2g"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


class Scratch:
    """Per-run scratch tree inside the checkout, and the environment
    variables that send Spark, Derby, Java and Python temp files there.
    Set before the JVM starts, so the gateway and its Python workers
    inherit it; the package root goes on the workers' PYTHONPATH."""

    def __init__(self, root: str, tag: str):
        self.root = root
        self.dir = os.path.join(root, ".perfbench_work", tag)
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("local", "tmp", "meta", "events", "data"):
            os.makedirs(os.path.join(self.dir, sub))
        paths = [root, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PFX_SCRATCH_DIR"] = self.path("meta")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = self.path("tmp")
        tempfile.tempdir = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def session_conf(scratch: Scratch, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Dio.netty.tryReflectionSetAccessible=true -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
            f"-Djava.io.tmpdir={scratch.path('tmp')} "
            f"-Dderby.system.home={scratch.path('meta', 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf["spark.eventLog.dir"] = "file://" + scratch.path("events")
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_session(scratch: Scratch, cores: int, event_log: bool = False):
    """``get_spark`` sized from the host: ``local[cores]``, one shuffle
    partition per core, a small driver heap."""
    from proxyfeatureextraction_spark import get_spark, session

    # get_spark evaluates its /dev/shm default for spark.local.dir (and
    # creates that directory) even when SPARK_LOCAL_DIRS is set; point
    # the default at the scratch tree so nothing is written outside the
    # checkout. Shuffle files then go to the checkout's disk instead of
    # tmpfs; NOTES.md records what that costs.
    session._local_dir = lambda: scratch.path("local")

    return get_spark(
        "pfx-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=session_conf(scratch, event_log),
    )


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


class PeakRss:
    """Peak resident memory of the Spark JVM plus its Python workers,
    read from ``/proc``: each process's ``VmHWM`` is reset when the
    window opens (``clear_refs``), a sampler thread remembers the peak of
    every worker it sees (workers may exit before the window closes),
    and the result is the sum of the per-process peaks in MB."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _procs(self) -> list[int]:
        return [self.pid, *_descendants(self.pid)]

    def _sample(self) -> None:
        while True:
            for pid in self._procs():
                self.peaks[pid] = max(self.peaks.get(pid, 0), _status_kb(pid, "VmHWM"))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        for pid in self._procs():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def mb(self) -> float:
        return sum(self.peaks.values()) / 1024.0

    @property
    def python_procs(self) -> int:
        """Python processes (daemon and workers) seen in the window."""
        return len(self.peaks) - 1


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Reps:
    """Closed-loop reps: one job at a time. A rep fails if it raises or
    returns ``ok=False``; failed reps are counted, not timed."""

    def __init__(self):
        self.rates: list[float] = []
        self.times: list[float] = []
        self.attempted = 0
        self.failed = 0

    def once(self, rep) -> None:
        self.attempted += 1
        try:
            dt, (rows, ok) = timed(rep)
        except Exception:  # noqa: BLE001 — a failed rep is a result
            traceback.print_exc()
            self.failed += 1
            return
        if not ok:
            self.failed += 1
            return
        self.times.append(dt)
        self.rates.append(rows / dt)

    def run(self, rep, seconds: float, min_reps: int = 3) -> Reps:
        """Reps until ``seconds`` have passed and ``min_reps`` were
        attempted (but never past six times ``seconds`` after the first:
        three ``dedup_docs`` reps take about 35 s)."""
        start = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - start
            if self.attempted >= min_reps and elapsed >= seconds:
                break
            if self.attempted >= 1 and elapsed >= 6 * seconds:
                break
            self.once(rep)
        return self

    def rows_per_s(self) -> float:
        """Median over the reps that succeeded; 0 when none did."""
        return statistics.median(self.rates) if self.rates else 0.0
