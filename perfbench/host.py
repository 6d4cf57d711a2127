"""Host readings taken from outside the program: the reference job that
normalizes timings, and /proc readings of the program's process tree.

The program's process tree is the benchmark process itself (the Spark
driver's Python side) plus its JVM and the JVM's descendants (the PySpark
daemon and its Python workers). The reference job's worker processes are
children of the benchmark process but not of the JVM, so they are never
counted as program work.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20

# Reference job: REF_ITERS rounds of an integer LCG in pure Python on each
# of nproc processes. REF_NOMINAL_S is roughly what one process takes on an
# idle 4-vCPU host; a normalized value is raw × REF_NOMINAL_S / measured.
REF_ITERS = 2_000_000
REF_NOMINAL_S = 0.2
# A reference window is idle when the program's tree burned less CPU during
# it than this share of the window's wall time (a fifth of one core).
IDLE_CPU_SHARE = 0.2
IDLE_RETRIES = 4


# One reference worker: reads an iteration count per line, runs the loop,
# writes the loop's seconds back. It imports only ``sys`` and ``time``.
_WORKER = """
import sys, time
for line in sys.stdin:
    t0 = time.perf_counter()
    x = 0
    for i in range(int(line)):
        x = (x * 1103515245 + i) & 0xFFFFFFFFFFFF
    print(time.perf_counter() - t0, flush=True)
"""


@dataclass
class ProcSample:
    """One walk of /proc: the program tree's CPU split and memory."""

    jvm_cpu_s: float
    python_cpu_s: float
    rss_mb: float
    steal_s: float
    python_workers: frozenset[int]

    @property
    def cpu_s(self) -> float:
        return self.jvm_cpu_s + self.python_cpu_s


def _read_stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children, rss MB) of a pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): utime..cstime are fields 14..17, rss 24
    ticks = sum(int(v) for v in fields[11:15])
    return comm, int(fields[1]), ticks / CLK_TCK, int(fields[21]) * PAGE_MB


def _steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def sample_tree(root: int | None = None) -> ProcSample:
    """Walk /proc once and sum CPU and RSS over the program tree."""
    root = root or os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    jvms = [p for p in children.get(root, []) if procs[p][0] == "java"]
    tree, stack = [], list(jvms)
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack.extend(children.get(pid, []))
    jvm_cpu = sum(procs[p][2] for p in jvms)
    py_cpu = procs[root][2] if root in procs else 0.0
    py_cpu += sum(procs[p][2] for p in tree if p not in jvms)
    rss = sum(procs[p][3] for p in tree + [root] if p in procs)
    # Python workers are forked by the PySpark daemon, which the JVM starts.
    daemons = [p for j in jvms for p in children.get(j, []) if procs[p][0].startswith("python")]
    workers = frozenset(w for d in daemons for w in children.get(d, []))
    return ProcSample(jvm_cpu, py_cpu, rss, _steal_s(), workers)


@dataclass
class RefSample:
    seconds: float          # mean per-process loop time
    contended_cpu_s: float  # program-tree CPU burned during the window
    idle: bool


class Reference:
    """nproc worker processes that run the reference loop on demand. They
    import nothing from the program."""

    def __init__(self, procs: int):
        self._workers = [
            subprocess.Popen([sys.executable, "-c", _WORKER], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
            for _ in range(procs)
        ]

    def _run(self, iters: int) -> list[float]:
        for w in self._workers:
            w.stdin.write(f"{iters}\n")
            w.stdin.flush()
        return [float(w.stdout.readline()) for w in self._workers]

    def _window(self) -> RefSample:
        before = sample_tree()
        t0 = time.perf_counter()
        times = self._run(REF_ITERS)
        wall = time.perf_counter() - t0
        used = sample_tree().cpu_s - before.cpu_s
        return RefSample(statistics.fmean(times), used, used <= IDLE_CPU_SHARE * wall)

    def measure(self) -> RefSample:
        """One idle reference window. A window in which the program was
        busy is retried after a pause; if it never goes idle the last,
        non-idle sample is returned and the caller fails it."""
        for _ in range(IDLE_RETRIES):
            s = self._window()
            if s.idle:
                return s
            time.sleep(0.5)
        return s

    def close(self) -> None:
        for w in self._workers:
            w.stdin.close()
        for w in self._workers:
            w.wait()
            w.stdout.close()
