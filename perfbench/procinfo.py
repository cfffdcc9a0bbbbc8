"""Process-tree facts read from /proc: resident memory of the benchmark's
process tree (driver Python, JVM, Python workers), host context, and the
wait for child processes to end. ``psutil`` is not a dependency."""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, List, Optional

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # comm may hold spaces or parentheses: fields resume after the last ')'
        fields = raw[raw.rfind(b")") + 2 :].split()
        if fields[0] != b"Z":  # an ended process not yet reaped holds nothing
            out[int(name)] = int(fields[1])
    return out


def descendants(pid: int, ppid: Optional[Dict[int, int]] = None) -> List[int]:
    """Every live process below ``pid``."""
    children: Dict[int, List[int]] = {}
    for child, parent in (ppid if ppid is not None else _ppid_map()).items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def tree_rss(pid: int) -> Dict[int, int]:
    """Resident bytes of ``pid`` and of every process below it. A child
    of the JVM with the JVM's own command line is a fork caught before its
    exec (the JVM launching a helper): its pages are the JVM's, so it is
    left out rather than counted twice."""
    ppid = _ppid_map()
    out = {}
    for p in [pid, *descendants(pid, ppid)]:
        cmd = _cmdline(p)
        if b"java" in cmd.split(b"\0")[0] and cmd == _cmdline(ppid.get(p, 0)):
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                out[p] = int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return out


def _name(pid: int) -> str:
    args = [a for a in _cmdline(pid).split(b"\0") if a]
    return " ".join(os.path.basename(a.decode(errors="replace")) for a in args[:1] + args[-1:])


class PeakRss:
    """Samples the resident memory of this process's tree on a background
    thread and keeps the highest sum seen. Use as a context manager."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_processes: List[List] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        tree = tree_rss(os.getpid())
        total = sum(tree.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            # [name, resident MB] of each process at the peak, largest first
            self.peak_processes = [
                [_name(p), round(b / (1 << 20), 1)]
                for p, b in sorted(tree.items(), key=lambda kv: -kv[1])
            ]

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_context() -> Dict[str, object]:
    """Recorded beside every run; never used to gate, wait on or pick runs."""
    from bench import host_fresh_page_mb_s

    return {
        "nproc": nproc(),
        "loadavg": list(os.getloadavg()),
        "fresh_page_mb_s": host_fresh_page_mb_s(),
        "mem_total_mb": mem_total_bytes() // (1 << 20),
    }


def reap_children(timeout_s: float = 30.0) -> List[int]:
    """Wait for every descendant of this process to end; after
    ``timeout_s`` send SIGKILL to those left and wait again. Returns the
    pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while _reap() and time.monotonic() < deadline:
        time.sleep(0.2)
    killed = descendants(me)
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while _reap() and time.monotonic() < deadline:
        time.sleep(0.1)
    return killed


def _reap() -> List[int]:
    """Collect the exit status of ended direct children; return the
    descendants still running."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
    return descendants(os.getpid())
