"""Host accounting from ``/proc``: core count, load, foreign CPU, memory.

A run on a shared host is only comparable with another if we know how
much of the machine it had.  ``CpuMeter`` measures, between laps, the
CPU seconds of this process tree (the Spark JVM and its Python workers
included) apart from the JVM's JIT compiler threads, those compiler
threads' CPU seconds, the CPU seconds that went *outside* the tree
(system busy jiffies, steal included, minus the tree's), and the steal
alone: time the hypervisor ran another guest while this one had work.
``MemorySampler`` samples the memory of the same tree on a thread and
keeps the peak.
"""

from __future__ import annotations

import os
import threading
import time

HZ = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(v, 2) for v in os.getloadavg()]


def _cpu_jiffies() -> tuple[int, int]:
    """System-wide (non-idle, steal) jiffies.  Steal is time the
    hypervisor ran another guest while this one had work."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return sum(vals) - vals[3] - vals[4], vals[7]  # minus idle and iowait


class CpuMeter:
    """Since the last ``lap()``: wall time, CPU used by this process
    tree apart from JIT compilation, CPU of the JVM's JIT compiler
    threads, CPU used outside the tree (steal included), and steal
    alone.

    JIT compilation is kept apart because Spark generates new classes
    for every query, so the compiler threads stay busy for minutes and
    their share of each batch falls from one repetition to the next;
    counted in, it would make a figure depend on how many repetitions
    a run had time for."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.own, self.jit = tree_jiffies()
        self.busy, self.steal = _cpu_jiffies()

    def lap(self) -> dict:
        t, (own, jit) = time.perf_counter(), tree_jiffies()
        busy, steal = _cpu_jiffies()
        out = {
            "wall_s": t - self.t,
            "cpu_s": ((own - self.own) - (jit - self.jit)) / HZ,
            "jit_s": (jit - self.jit) / HZ,
            "foreign_s": max(0, (busy - self.busy) - (own - self.own)) / HZ,
            "steal_s": (steal - self.steal) / HZ,
        }
        self.t, self.own, self.jit = t, own, jit
        self.busy, self.steal = busy, steal
        return out


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, cpu jiffies incl. reaped children, comm)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue  # exited during the walk
        fields = s[s.rfind(")") + 2:].split()
        table[int(d)] = (
            int(fields[1]),
            sum(map(int, fields[11:15])),  # utime stime cutime cstime
            s[s.find("(") + 1:s.rfind(")")],
        )
    return table


def _subtree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table:
            out.append(p)
        stack.extend(kids.get(p, []))
    return out


# HotSpot's JIT compiler threads ("C2 CompilerThread0", cut to 15
# characters).  The JVM runs with -XX:-UseDynamicNumberOfCompilerThreads
# so these threads live as long as the JVM and their CPU can be read.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_jiffies(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0  # exited
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue
        if s[s.find("(") + 1:s.rfind(")")].startswith(_JIT_THREADS):
            fields = s[s.rfind(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])  # utime stime
    return total


def tree_jiffies(root: int | None = None) -> tuple[int, int]:
    """CPU jiffies of the process tree, and of its JIT compiler threads."""
    table = _proc_table()
    pids = _subtree(table, root or os.getpid())
    return (
        sum(table[p][1] for p in pids),
        sum(_jit_jiffies(p) for p in pids if table[p][2] == "java"),
    )


# Processes whose memory counts: the benchmark's driver, the Spark JVM
# and the Python workers.  A thread of one of them that forks a helper
# (Hadoop's local file system runs ``chmod``) briefly shows up under the
# thread's name with the parent's pages; it is skipped.
_MEMORY_COMMANDS = ("java", "python", "python3")


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited
    return 0


def tree_pss_by_comm(root: int | None = None) -> dict[str, int]:
    """Proportional set size of the process tree, per command name:
    resident pages, each shared page split among the processes sharing
    it (forked Python workers share their parent's pages)."""
    table = _proc_table()
    out: dict[str, int] = {}
    for p in _subtree(table, root or os.getpid()):
        comm = table[p][2]
        if comm in _MEMORY_COMMANDS:
            out[comm] = out.get(comm, 0) + _pss_bytes(p)
    return out


class MemorySampler:
    """Peak memory (summed PSS) of the driver, JVM and Python workers,
    sampled every ``period`` seconds on a daemon thread between
    ``start()`` and ``stop()``; also the peak per command name."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        by_comm = tree_pss_by_comm()
        self.peak = max(self.peak, sum(by_comm.values()))
        for comm, size in by_comm.items():
            self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0), size)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak / (1 << 20)


# ------------------------------------------------------------ processes

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants.

    A process that outlives its parent (the JVM's launcher shell, the
    PySpark daemon and its workers once the JVM is gone) is then
    re-parented here instead of to init, so ``reap_children`` can wait
    for it before the benchmark exits."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until this process has no child left, alive or zombie.
    Children still running after ``grace_s`` seconds are killed."""
    import signal

    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children at all
        if pid:
            continue
        if time.monotonic() >= deadline:
            me = os.getpid()
            for kid, (ppid, *_) in _proc_table().items():
                if ppid == me:
                    try:
                        os.kill(kid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)
