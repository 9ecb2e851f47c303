"""CPU time and resident memory of this process's descendants, from /proc.

The descendants are the Spark JVM and the Python workers it forks.
``tree_cpu_s`` counts a child that already exited through its parent's
``cutime``/``cstime``, so the total only grows and a difference of two
readings is the core-seconds spent in between.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces: fields start after its closing ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime (own and reaped children's) summed over the descendants."""
    total = 0
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat (utime stime cutime cstime), 0-based 11-14 here
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (the forked
    Python workers share most of theirs) are split between them, so the
    sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def become_subreaper() -> bool:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): the Python workers the JVM forks stay in
    this process's tree after the JVM ends, so ``stop_descendants`` still
    finds them."""
    try:
        return ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _alive(pid: int, started: str) -> bool:
    """``pid`` still runs the process that started at ``started`` and has
    not ended (a zombie has ended)."""
    st = _stat(pid)
    return st is not None and st[0] != "Z" and st[19] == started


def _reap() -> None:
    """Collect the exit status of every ended child, so none stays a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0, kill_s: float = 10.0) -> list[int]:
    """End every descendant of this process and wait until each has ended:
    SIGTERM, then SIGKILL to what is left after ``grace_s``. Returns the
    pids still running after a further ``kill_s`` (empty when all ended)."""
    me = os.getpid()
    seen: dict[int, str] = {}
    t0 = time.monotonic()
    sig = signal.SIGTERM
    sent: set[int] = set()
    while True:
        for pid in descendants(me):
            st = _stat(pid)
            if st is not None and pid not in seen:
                seen[pid] = st[19]  # start time: guards against pid reuse
        live = [p for p, started in seen.items() if _alive(p, started)]
        if not live:
            _reap()
            if not descendants(me):  # an orphan may still be re-parented here
                return []
        if sig == signal.SIGTERM and time.monotonic() - t0 > grace_s:
            sig, sent = signal.SIGKILL, set()
        elif time.monotonic() - t0 > grace_s + kill_s:
            return live
        for pid in live:
            if pid not in sent:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
                sent.add(pid)
        _reap()
        time.sleep(0.05)


class PeakRss:
    """Samples the summed resident memory (PSS) of this process and its
    descendants on a background thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        pids = descendants(me)
        n = 0
        while not self._stop.wait(self._interval):
            n += 1
            if n % 10 == 0:  # workers come and go; re-list about once a second
                pids = descendants(me)
            total = pss_bytes(me) + sum(pss_bytes(p) for p in pids)
            with self._lock:
                self._peak = max(self._peak, total)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    @property
    def peak(self) -> int:
        with self._lock:
            return self._peak
