"""Host facts and disturbance, read from /proc.

- ``host_facts``: core count, the engine's core setting, CPU model, memory.
- ``ProcessTree``: CPU seconds of this process and every live descendant,
  including the children each of them has reaped (``cutime``/``cstime``),
  split into the driver, the JVM and the Python workers.
- ``DisturbanceSampler``: steal time and the mean run-queue length while
  the timed phase runs, sampled by a background thread.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu_model": model,
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
    }


def process_start_seconds() -> float:
    """Seconds since this process started, on the boot-time clock."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / CLK_TCK
    return time_since_boot() - started


def time_since_boot() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _read_stat(pid: str) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listdir and open
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw.rsplit(")", 1)[1].split()
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
    return comm, int(fields[1]), ticks / CLK_TCK


def _process_table() -> dict[int, tuple[str, int, float]]:
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _read_stat(pid)
            if st is not None:
                procs[int(pid)] = st
    return procs


def _children(procs) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        out.setdefault(ppid, []).append(pid)
    return out


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    kids = _children(_process_table())
    out, stack = [], list(kids.get(os.getpid(), ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


class ProcessTree:
    """CPU of this process tree, by process class."""

    def cpu(self) -> dict[str, float]:
        procs = _process_table()
        kids = _children(procs)
        root = os.getpid()
        out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
        stack = [(root, "driver")]
        while stack:
            pid, cls = stack.pop()
            if pid not in procs:
                continue
            comm, _, secs = procs[pid]
            if pid != root:
                if comm == "java":
                    cls = "jvm"
                elif comm.startswith("python"):
                    cls = "worker"
            out[cls] += secs
            stack.extend((c, cls) for c in kids.get(pid, ()))
        out["total"] = out["driver"] + out["jvm"] + out["worker"]
        return out


def cpu_line() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Steal share of CPU time between two ``cpu_line()`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return 100.0 * delta[7] / total if total else 0.0


def _procs_running() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("procs_running"):
                return int(line.split()[1])
    return 0


class DisturbanceSampler:
    """Steal share and run-queue length between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._stop = threading.Event()
        self._runq: list[int] = []
        self._thread: threading.Thread | None = None
        self._cpu0: list[int] = []

    def start(self) -> None:
        self._cpu0 = cpu_line()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._runq.append(_procs_running())

    def stop(self) -> dict[str, float]:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        runq = self._runq or [_procs_running()]
        return {
            "steal_pct": steal_pct(self._cpu0, cpu_line()),
            "runq": sum(runq) / len(runq),
        }
