"""Host record and process hygiene, from /proc (no psutil here).

* ``tree_cpu_s``, ``jit_cpu_s`` and ``RssSampler`` measure CPU time and
  RSS of a process and its descendants (the Spark JVM, the pyspark daemon
  and its Python workers).
* ``become_subreaper`` / ``reap_descendants``: orphans of the JVM are
  re-parented to this process, so none can outlive the run.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file, index 0 of
    the fields being the state; None when the process is gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def _stat(pid: int) -> list[str] | None:
    st = _read_stat(f"/proc/{pid}/stat")
    return st[1] if st else None


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of ``root`` and its live descendants, including
    the time of children they have already reaped."""
    total = 0
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cu cs
    return total / TICK


def jit_cpu_s(pid: int) -> float:
    """CPU time of the JVM's JIT compiler threads."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        st = _read_stat(f"/proc/{pid}/task/{tid}/stat")
        if st and "CompilerThre" in st[0]:  # "C2 CompilerThre", "C1 ..."
            total += int(st[1][11]) + int(st[1][12])  # utime stime
    return total / TICK


class RssSampler:
    """Polls the tree's RSS in a thread: peak of the sum, peak of
    ``root`` alone, and the peak of its largest single descendant."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root, self.period = root, period_s
        self.peak_total = self.peak_root = self.peak_child = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            root = _rss_bytes(self.root)
            kids = [_rss_bytes(p) for p in descendants(self.root)]
            self.peak_root = max(self.peak_root, root)
            self.peak_child = max([self.peak_child] + kids)
            self.peak_total = max(self.peak_total, root + sum(kids))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class HostClock:
    """Load and steal share over an interval, from /proc."""

    @staticmethod
    def cpu_times() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def __init__(self):
        self.start = self.cpu_times()
        self.load_start = os.getloadavg()[0]

    def record(self) -> dict:
        now = self.cpu_times()
        delta = [b - a for a, b in zip(self.start, now)]
        steal = delta[7] if len(delta) > 7 else 0
        return {"load_1m_start": self.load_start,
                "load_1m_end": os.getloadavg()[0],
                "steal_frac": steal / max(1, sum(delta[:8]))}


def probe_s(reps: int = 3) -> float:
    """Median time of a fixed single-thread loop: a calibration of how
    fast this host runs Python right now."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t)
    return sorted(times)[len(times) // 2]


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(grace_s: float = 0.5) -> int:
    """Terminate every descendant, then kill what is left after
    ``grace_s``, and wait until all have ended. Returns how many were
    still running when called."""
    pids = descendants(os.getpid())
    for sig, wait in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 5.0)):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not descendants(os.getpid()):
                return len(pids)
            time.sleep(0.05)
    return len(pids)

