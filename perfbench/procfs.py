"""Process-tree CPU and memory from /proc (psutil is not available).

The tree is this driver process and every descendant: the Spark driver JVM,
the pyspark daemon and its Python workers. A process's CPU is its own
utime+stime plus cutime+cstime, which holds the times of children it has
reaped (finished Python workers), so a pass's CPU is the difference of two
tree totals.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, str, float] | None:
    """(command, state, cpu seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    # the command sits in parentheses and may itself contain spaces
    lp, rp = raw.index("("), raw.rindex(")")
    fields = raw[rp + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    cpu = (utime + stime + cutime + cstime) / _TICK
    return raw[lp + 1 : rp], fields[0], cpu


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", "rb") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants() -> list[int]:
    """This process and all its live descendants."""
    seen, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _is_python(comm: str) -> bool:
    return comm.startswith("python")


class TreeSnapshot:
    """CPU seconds of the whole tree and of its Python processes other than
    the driver (the pyspark daemon and workers)."""

    def __init__(self):
        root = os.getpid()
        self.cpu_s = 0.0
        self.python_cpu_s = 0.0
        self.pids: list[int] = []
        for pid in descendants():
            st = _stat(pid)
            if st is None:
                continue
            comm, _, cpu = st
            self.pids.append(pid)
            self.cpu_s += cpu
            if pid != root and _is_python(comm):
                self.python_cpu_s += cpu


class RssSampler:
    """Samples the summed RSS of the tree's Python processes (the driver,
    the pyspark daemon and its workers) on a thread and keeps the peak. Use
    as a context manager around the measured work.

    The JVM is left out: its RSS follows G1 heap expansion, which differs
    run to run (1.6 GB and 2.9 GB peaks on two identical job runs) while
    the Python side repeats within 1%."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in descendants():
            st = _stat(pid)
            if st is not None and _is_python(st[0]):
                total += _rss_bytes(pid)
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def wait_gone(pids: set[int], timeout_s: float = 20.0) -> None:
    """Wait until none of ``pids`` (other than this process) is alive;
    SIGKILL what is left at the deadline."""
    pids = pids - {os.getpid()}
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:  # exited meanwhile
                pass


def _alive(pid: int) -> bool:
    # a zombie has exited; its parent only has not reaped it yet
    st = _stat(pid)
    return st is not None and st[1] != "Z"


def process_start_time() -> float:
    """Wall-clock (time.time()) at which this process started."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read().decode()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK
