"""Resource accounting for a process tree, read from /proc (Linux only).

The measured process tree is the benchmark worker's Python driver, the Spark
JVM it launches and the PySpark Python workers the JVM forks. The CPU time of
a child that exits and is reaped moves into its parent's ``cutime`` and
``cstime``, so summing over the live tree at two instants gives the tree's
usage in between.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state; utime, stime, cutime, cstime are stat fields 14-17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return comm, ppid, ticks / _TICK


def tree(root: int) -> dict[int, tuple[str, float]]:
    """pid -> (comm, cpu seconds) for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = (stats[pid][0], stats[pid][2])
            todo.extend(children.get(pid, []))
    return out


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds of the tree so far, split into the JVM and Python."""
    java = python = 0.0
    for comm, cpu in tree(root).values():
        if comm == "java":
            java += cpu
        else:
            python += cpu
    return {"java": java, "python": python}


def pss_mb(root: int) -> float:
    """Proportional resident memory of the tree, in MiB. PSS charges pages
    shared by forked workers once in total, where RSS would count them once
    per process."""
    kb = 0
    for pid in tree(root):
        raw = _read(f"/proc/{pid}/smaps_rollup") or ""
        for line in raw.splitlines():
            if line.startswith("Pss:"):
                kb += int(line.split()[1])
                break
    return kb / 1024.0


def system_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine so far: busy is every
    field of /proc/stat's cpu line except idle and iowait; steal is time
    the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    idle = fields[3] + fields[4]
    return (sum(fields[:8]) - idle) / _TICK, fields[7] / _TICK


def host_snapshot() -> dict:
    """Load and pressure of the machine at one instant."""
    snap = {"loadavg": [float(x) for x in (_read("/proc/loadavg") or "0 0 0").split()[:3]]}
    psi = _read("/proc/pressure/cpu")
    if psi:
        some = psi.splitlines()[0].split()
        snap["cpu_psi_some"] = {kv.split("=")[0]: float(kv.split("=")[1]) for kv in some[1:4]}
    return snap


def host_info() -> dict:
    mem_kb = 0
    for line in (_read("/proc/meminfo") or "").splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    return {"cpus": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


class Monitor:
    """Samples the tree's PSS on a background thread and takes CPU and
    machine-load deltas between ``start`` and ``stop``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._cpu0 = cpu_split(self.root)
        self._busy0, self._steal0 = system_cpu_s()
        self._host0 = host_snapshot()
        self._t0 = time.perf_counter()
        self._thread = threading.Thread(target=self._sample, name="pss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        wall = time.perf_counter() - self._t0
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, pss_mb(self.root))
        cpu1 = cpu_split(self.root)
        java = cpu1["java"] - self._cpu0["java"]
        python = cpu1["python"] - self._cpu0["python"]
        busy, steal = system_cpu_s()
        busy -= self._busy0
        return {
            "wall_s": wall,
            "cpu_java_s": java,
            "cpu_python_s": python,
            "cpu_s": java + python,
            "peak_pss_mb": self.peak_mb,
            # CPU the rest of the machine used while the call ran
            "foreign_cpu_s": max(0.0, busy - java - python),
            "steal_s": steal - self._steal0,
            "host_before": self._host0,
            "host_after": host_snapshot(),
        }
