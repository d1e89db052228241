"""Host-side helpers: process-tree memory, run context, process shutdown.

Everything here reads ``/proc`` directly so the benchmark needs no package
beyond what the engine already uses.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (children, grandchildren...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` plus all its descendants: the
    Python driver, the JVM it launched and the JVM's Python workers. Pages
    that forked workers share are counted once, split among them, so the
    sum does not grow with the number of idle workers."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
    return total


class PeakMemory:
    """Samples the process tree's memory (PSS) on a background thread while
    the ``with`` block runs; ``peak`` holds the highest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


def kill_descendants() -> None:
    """SIGKILL every process below this one (last-resort cleanup)."""
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, including
    children they have already reaped (Python workers that exited)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc/self/stat``."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def run_context(root: str) -> dict:
    """What a reader needs to judge whether a run was quiet: core count,
    load, uptime (a freshly booted host warms for ~20 min), commit and the
    versions of the libraries the hot path runs on."""
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
        "uptime_s": round(uptime, 1),
        "git_commit": commit,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session, the JVM gateway and every process below this one,
    and wait until each has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    reap_descendants()


def reap_descendants(timeout_s: float = 20.0) -> None:
    """Wait for leftover child processes (Python workers) to exit; terminate
    and then kill the ones that outlive ``timeout_s``."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        while time.monotonic() < deadline:
            left = descendants(me)
            if not left:
                return
            for pid in left:
                try:
                    os.waitpid(pid, os.WNOHANG)  # reap direct children
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        if sig is None:
            return
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5.0
