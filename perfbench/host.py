"""Host sizing, the benchmark's Spark session, resource sampling and the
noise canaries.

Everything the session writes (shuffle files, JVM temp files, the warehouse
and, on traced runs, the event log) stays under the run's work directory in
the checkout.
"""

from __future__ import annotations

import ctypes
import os
import pathlib
import shlex
import signal
import sys
import threading
import time

import numpy as np

# Share of the host's RAM given to the driver heap: the driver JVM shares the
# host with one Python worker per core and the benchmark's own process.
HEAP_SHARE = 0.4

# Share of the driver heap given to the young generation.
YOUNG_SHARE = 1 / 6

RSS_SAMPLE_INTERVAL_S = 0.1

PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h
# How long the processes a run started get to end on their own, then after
# SIGTERM, before SIGKILL.
STOP_GRACE_S = 15.0


def host_cores() -> int:
    cores = len(os.sched_getaffinity(0))
    try:  # cgroup v2 CPU quota, e.g. "200000 100000"
        quota, period = pathlib.Path("/sys/fs/cgroup/cpu.max").read_text().split()
        if quota != "max":
            cores = min(cores, max(1, int(int(quota) / int(period))))
    except (OSError, ValueError):
        pass
    return cores


def host_ram_bytes() -> int:
    ram = 0
    for line in pathlib.Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            ram = int(line.split()[1]) * 1024
    for limit_file in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            limit = pathlib.Path(limit_file).read_text().strip()
        except OSError:
            continue
        if limit.isdigit():
            ram = min(ram, int(limit))
    return ram


def host_info() -> dict:
    cores, ram = host_cores(), host_ram_bytes()
    heap_gb = max(1, int(ram / 2**30 * HEAP_SHARE))
    return {
        "cores": cores,
        "ram_gb": round(ram / 2**30, 2),
        "heap_gb": heap_gb,
        "young_mb": int(heap_gb * 1024 * YOUNG_SHARE),
    }


def start_session(work: pathlib.Path, host: dict, event_log: pathlib.Path | None):
    """``session.get_spark`` at ``local[cores]`` with a heap sized from RAM.

    Launch-time settings that ``get_spark`` has no parameter for (temp dirs,
    the event log) go through the environment the JVM is started with.
    """
    from simhash_spark.session import get_spark

    root = pathlib.Path(__file__).resolve().parent.parent
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(local)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)  # wins over spark.local.dir
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata files in /tmp from the launcher and driver JVMs
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    conf = {
        # Fixed heap and young generation sizes: left to G1, both grow by
        # amounts that depend on GC timing, and a call's peak RSS then spread
        # 0.04-0.27 over ten seeds. With the young generation fixed, the
        # pages touched are the young generation plus what the old one held.
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Xms{host['heap_gb']}g -Xmn{host['young_mb']}m"
            f" -Djava.io.tmpdir={tmp}"
        ),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            # Spark 4.1 writes zstd, rolling event logs unless told otherwise;
            # trace.EventLog reads one plain file
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return get_spark(parallelism=host["cores"], driver_memory=f"{host['heap_gb']}g")


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants.

    A process whose parent ends before it does (the Python daemon the driver
    JVM forks, say) is then re-parented here, not to init, so
    ``stop_descendants`` can wait for it.
    """
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants() -> None:
    """End every process this run started and wait until each has ended.

    The driver JVM exits when its stdin closes (after ``spark.stop()``) and
    takes the Python daemon and workers with it; the multiprocessing
    resource tracker the input generator's pool started exits when its pipe
    closes. Whatever is still running after ``STOP_GRACE_S`` gets SIGTERM,
    and SIGKILL after each further ``STOP_GRACE_S``.
    """
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None  # noqa: SLF001
    if gateway is not None and gateway.proc is not None and gateway.proc.stdin:
        gateway.proc.stdin.close()
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # noqa: SLF001
    sig = None
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no child is left
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for child in _children("self"):
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + STOP_GRACE_S
        time.sleep(0.05)


def isolate(spark) -> None:
    """Drop cached blocks and let the ContextCleaner free shuffle files and
    broadcasts of the previous run; called before each timed run."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001


def _children(pid: int | str) -> list[int]:
    out = []
    for task in pathlib.Path(f"/proc/{pid}/task").glob("*/children"):
        try:
            out.extend(int(c) for c in task.read_text().split())
        except OSError:
            continue
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss(pid: int) -> int:
    try:
        stat = pathlib.Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return 0
    return int(stat[stat.rindex(")") + 2 :].split()[21]) * os.sysconf("SC_PAGE_SIZE")


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python workers, sampled from
    ``/proc`` on a background thread.

    The JVM's other descendants are not counted. Among them is the copy of
    the JVM that exists each time it starts a helper command, between its
    clone and its exec. That copy shares the JVM's address space, so its RSS
    is the JVM's: counted, it added the whole JVM a second time whenever a
    sample caught it, and 3 of 10 runs read 6.6-7.1 GB against 4.2 GB.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = [self.jvm_pid, *filter(_is_python, _descendants(self.jvm_pid))]
            self.peak_bytes = max(self.peak_bytes, sum(_rss(p) for p in pids))
            self._stop.wait(RSS_SAMPLE_INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> tuple[int, int]:
    """(busy, total) jiffies over all CPUs from ``/proc/stat``."""
    vals = [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle, sum(vals)


# The canaries' code is frozen: they exist to show host noise beside the
# results, so a change to them would break comparability across runs.
def canary_cpu_s() -> float:
    rng = np.random.default_rng(12345)
    x = rng.random(500_000)
    t0 = time.perf_counter()
    for _ in range(4):
        np.sort(x, kind="mergesort")
        x = np.sin(x) + x
    return time.perf_counter() - t0


def canary_shuffle_s(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 1_000_000, 1, 8)
        .groupBy((F.col("id") % 997).alias("k"))
        .agg(F.sum("id").alias("s"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0
