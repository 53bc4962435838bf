"""CPU time and resident memory of a process tree, read from /proc.

The Spark job runs in several processes: the Spark driver's Python process,
the JVM it launches, the pyspark daemon and the Python workers the daemon
forks. Their CPU and memory only add up when the whole tree is read, and
psutil is not available, so this module reads /proc directly.

CPU of a process tree is the sum, over live processes, of user + system
time plus the time of reaped children (cutime + cstime). A worker that
exits and is reaped by the daemon keeps being counted through the
daemon's cutime, so a difference of two readings is the CPU the tree
spent in between. Memory is the sum of resident set sizes of the
long-lived processes, so pages that forked workers share with the daemon
are counted once per process.

The CPU of a job leaves out the JVM's JIT compiler threads. When HotSpot
compiles hot code is a property of the JVM's warm-up, not of the job: on
four cores the C1 and C2 threads spent 1.4 to 6.1 s of a 23 to 30 s HMM
job, and 1.8 to 14.6 s of a 31 to 45 s export job of 1,000 docs,
different in every job of a run and between runs. The compiler threads must stay alive for their time
to be read, so the JVM runs with a fixed number of them (run.py sets
-XX:-UseDynamicNumberOfCompilerThreads).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    ppid: int
    comm: str
    cpu_s: float
    rss: int


def _read_procs() -> dict[int, Proc]:
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fd:
                data = fd.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # comm may hold spaces and parentheses: fields resume after the last ')'
        lpar, rpar = data.index(b"("), data.rindex(b")")
        fields = data[rpar + 2:].split()
        utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
        procs[int(name)] = Proc(
            ppid=int(fields[1]),
            comm=data[lpar + 1:rpar].decode(errors="replace"),
            cpu_s=(utime + stime + cutime + cstime) / _TICKS,
            rss=int(fields[21]) * _PAGE,
        )
    return procs


def tree(root: int) -> dict[int, Proc]:
    """``root`` and all its live descendants."""
    procs = _read_procs()
    children: dict[int, list[int]] = {}
    for pid, p in procs.items():
        children.setdefault(p.ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def python_worker_cpu_s(root: int) -> float:
    """CPU of the Python processes the JVM started (daemon + workers):
    every Python descendant of ``root``."""
    return sum(p.cpu_s for pid, p in tree(root).items()
               if pid != root and p.comm.startswith("python"))


def _long_lived(p: Proc) -> bool:
    """The Spark driver's Python process, the JVM, and the Python daemon
    and workers. The JVM also forks short-lived shell commands (Hadoop's
    local file system runs chmod); until they exec, those children share
    the JVM's pages and report its whole RSS, which is not memory the job
    uses."""
    return p.comm == "java" or p.comm.startswith("python")


def jit_cpu_s(pid: int) -> float:
    """CPU of the JIT compiler threads of the JVM ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as fd:
                data = fd.read()
        except OSError:
            continue
        lpar, rpar = data.index(b"("), data.rindex(b")")
        if data[lpar + 1:rpar].startswith((b"C1 CompilerThre", b"C2 CompilerThre")):
            fields = data[rpar + 2:].split()
            total += int(fields[11]) + int(fields[12])
    return total / _TICKS


class TreeSampler:
    """Measures one interval: CPU seconds this process's tree spent,
    less the JIT compiler threads', and its peak summed RSS, polled every
    0.1 s on a background thread. The thread runs inside the tree; its
    own CPU is subtracted so it does not count as work."""

    def __init__(self):
        self.cpu_s = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._sampler_cpu = 0.0

    def _sample(self) -> dict[int, Proc]:
        procs = tree(os.getpid())
        self.peak_rss = max(self.peak_rss, sum(p.rss for p in procs.values() if _long_lived(p)))
        return procs

    def _cpu(self) -> float:
        return sum(p.cpu_s - (jit_cpu_s(pid) if p.comm == "java" else 0.0)
                   for pid, p in self._sample().items())

    def _loop(self) -> None:
        t0 = time.thread_time()
        while not self._stop.wait(0.1):
            self._sample()
        self._sampler_cpu = time.thread_time() - t0

    def __enter__(self) -> "TreeSampler":
        self._cpu0 = self._cpu()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.cpu_s = self._cpu() - self._cpu0 - self._sampler_cpu
