"""Process-level plumbing shared by every workload: the Spark session's
lifetime, the peak-RSS sampler, the host block and the statistics.

Everything here observes the program from outside: the session comes
from the program's own ``session.get_spark``, memory is read from
``/proc``, and no program module is modified.
"""

from __future__ import annotations

import datetime
import math
import os
import platform
import signal
import statistics
import subprocess
import threading
import time


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail_rank(n: int) -> int | None:
    """The highest whole percentile with at least ten samples beyond it,
    or None when fewer than 20 samples leave no such percentile at or
    above the median."""
    if n < 20:
        return None
    return math.floor(100 * (n - 10) / n)


def timing(values: list[float], unit: str = "s") -> dict:
    """Median with quartiles (``statistics.quantiles(n=4)``) and the
    sample count; no minimum, no discarded trials."""
    vals = sorted(values)
    out: dict = {"value": statistics.median(vals) if vals else None, "unit": unit, "n": len(vals)}
    if len(vals) >= 2:
        out["q1"], _, out["q3"] = statistics.quantiles(vals, n=4)
    return out


def tail(values: list[float], unit: str = "s") -> dict:
    """The tail of a timing series: its highest percentile with at least
    ten samples beyond it (nearest rank), with that percentile and the
    sample count; value None below 20 samples."""
    vals = sorted(values)
    n = len(vals)
    p = tail_rank(n)
    if p is None:
        return {"value": None, "unit": unit, "n": n, "percentile": None,
                "note": "needs >= 20 samples; raise --seconds"}
    return {"value": vals[math.ceil(p * n / 100) - 1], "unit": unit, "n": n, "percentile": p}


# ---------------------------------------------------------------------------
# peak resident memory of the Spark JVM and its Python workers
# ---------------------------------------------------------------------------

def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


class RssSampler:
    """Samples the summed RSS of a process tree every ``interval``
    seconds on a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_kib = 0
        self.peak_parts: dict[str, int] = {}
        self._root: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def watch(self, pid: int) -> None:
        self._root = pid

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._root is not None:
                parts = {p: _rss_kib(p) for p in _descendants(self._root)}
                total = sum(parts.values())
                if total > self.peak_kib:
                    self.peak_kib = total
                    self.peak_parts = {"jvm_mb": parts.get(self._root, 0) / 1024,
                                       "workers_mb": (total - parts.get(self._root, 0)) / 1024,
                                       "processes": len(parts)}
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


# ---------------------------------------------------------------------------
# the Spark session's lifetime
# ---------------------------------------------------------------------------

class Session:
    """One Spark session in its own JVM. ``close`` stops the context,
    ends the JVM and waits for the process to exit, so a run can start
    a fresh JVM again and leaves no process behind."""

    def __init__(self, workdir: str, n_cores: int):
        from log_parser_project_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir}",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", parallelism=n_cores, extra_conf=conf)
        self.start_s = time.perf_counter() - t0

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        # the JVM's Python workers outlive it briefly; wait for them too
        workers = [p for p in _descendants(proc.pid) if p != proc.pid]
        gateway.shutdown()
        # the launcher JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in workers:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _has_ended(pid: int) -> bool:
    """True once ``pid`` has exited. A child of this process is reaped
    here; any other process has ended when it is gone or a zombie
    (its own parent reaps it)."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == pid
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat.rsplit(")", 1)[1].split()[0] == "Z"


def end_children(timeout: float = 30.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended. The resource tracker of a spawned
    ``multiprocessing`` pool outlives the pool until its pipe closes, so
    it is closed first; anything still running gets SIGTERM, then
    SIGKILL after ``timeout`` seconds."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_fd", None) is not None and hasattr(tracker, "_stop"):
        tracker._stop()
    me = os.getpid()
    left = [p for p in _descendants(me) if p != me]
    for sig, wait_s in ((None, 5.0), (signal.SIGTERM, timeout), (signal.SIGKILL, timeout)):
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            left = [p for p in left if not _has_ended(p)]
            if left:
                time.sleep(0.05)
        if not left:
            return


# ---------------------------------------------------------------------------
# host block
# ---------------------------------------------------------------------------

def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_block(load1_before: float, steal_before: float) -> dict:
    import pyarrow
    import pyspark

    return {
        "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "nproc": cores(),
        "load1_before": load1_before,
        "load1_after": os.getloadavg()[0],
        "cpu_steal_s": cpu_steal_s() - steal_before,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "machine": platform.machine(),
    }
