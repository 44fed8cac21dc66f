"""Process memory from ``/proc``: peak resident sizes of the driver, its
JVM and the Python workers, and clean shutdown of every process the
driver started."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that
    Python workers orphaned by the JVM's exit stay visible and waitable."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _read(path: str) -> str:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _read(f"/proc/{entry}/stat")
            if stat:
                ppid = int(stat.rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def status_kb(pid: int, field: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/status`` (``VmHWM``, ``VmRSS``); 0
    once the process is gone."""
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1])
    return 0


def cmdline(pid: int) -> str:
    return _read(f"/proc/{pid}/cmdline").replace("\0", " ")


def jvm_pids() -> list[int]:
    return [p for p in descendants(os.getpid()) if "org.apache.spark" in cmdline(p)]


def worker_pids() -> list[int]:
    return [p for p in descendants(os.getpid()) if "pyspark.daemon" in cmdline(p)]


class WorkerRssPoller:
    """Polls the Python workers' resident size while a ``with`` block
    runs and keeps the largest single-worker RSS seen, in kB."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.max_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            for pid in worker_pids():
                self.max_kb = max(self.max_kb, status_kb(pid, "VmRSS"))
            self._stop.wait(self.interval)

    def __enter__(self) -> WorkerRssPoller:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def peak_rss_mb(worker_max_kb: int) -> dict[str, float]:
    """Driver VmHWM, JVM VmHWM and the largest worker RSS seen, in MB."""
    return {
        "driver": status_kb(os.getpid(), "VmHWM") / 1024.0,
        "jvm": sum(status_kb(p, "VmHWM") for p in jvm_pids()) / 1024.0,
        "worker": worker_max_kb / 1024.0,
    }


def _reap() -> bool:
    """Collect every exited child; False once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_children(timeout: float = 60.0) -> None:
    """Wait for every process below this one to end, killing what is left
    after ``timeout``. Call once the Java gateway's stdin is closed, which
    ends the JVM and, through it, the Python workers."""
    deadline = time.monotonic() + timeout
    while _reap() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while _reap() and time.monotonic() < deadline:
        time.sleep(0.1)
