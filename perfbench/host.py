"""Host-derived launch settings and the /proc memory sampler."""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def total_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """An eighth of host RAM, between 1 and 4 GiB (the session's own
    default is sized for a 32-CPU box)."""
    return f"{max(1024, min(4096, total_ram_mb() // 8))}m"


def launch_env(root: str, out_dir: str) -> Dict[str, str]:
    """Environment for the driver JVM and its Python workers.

    Every temporary file stays under ``out_dir``: Spark's local dirs,
    Python's tempfile, and the JVM's java.io.tmpdir (with the hsperfdata
    file switched off, since the JVM always writes that to /tmp)."""
    tmp = os.path.join(out_dir, "tmp")
    local = os.path.join(out_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": root + (os.pathsep + pythonpath if pythonpath else ""),
        "SPARK_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _tree(root_pid: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_mb(pids: List[int]) -> float:
    """Resident memory of the given processes (driver, JVM, Python worker
    daemon and workers), skipping any that have exited."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total / (1 << 20)


class PeakRss:
    """Samples the process tree's RSS from a thread; ``peak`` is the
    largest sample seen since start.  The tree is re-listed once a
    second, between samples only the known pids are read."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: List[int] = []
        listed = 0.0
        while not self._stop.is_set():
            if time.monotonic() - listed >= 1.0:
                pids, listed = _tree(os.getpid()), time.monotonic()
            self.peak = max(self.peak, rss_mb(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_mb(_tree(os.getpid())))


def wait_children_gone(timeout_s: float = 30.0) -> bool:
    """Wait until this process has no descendants left."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if len(_tree(os.getpid())) == 1:
            return True
        time.sleep(0.1)
    return False
