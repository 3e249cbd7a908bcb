"""Host probes read from /proc: process-tree CPU and memory, host steal
and external load, running Spark JVMs, and the driver-heap size."""

from __future__ import annotations

import os
import threading

CLK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime ticks) for every process."""
    out = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # the comm field may hold spaces and parentheses: split after
        # the last ')'
        rest = st[st.rfind(")") + 2:].split()
        out[int(ent)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    return out


def tree(root: int, table: dict) -> set[int]:
    """root and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo += kids.get(p, [])
    return seen & table.keys()


def cpu_snapshot(root: int) -> tuple[int, int, int]:
    """(in-VM busy ticks, hypervisor steal ticks, own-tree ticks).

    busy = user+nice+system+irq+softirq of the whole VM; busy minus the
    own tree is work of other processes in the VM, and steal is time
    the hypervisor gave our runnable vCPUs to someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    table = proc_table()
    own = sum(table[p][1] for p in tree(root, table))
    return v[0] + v[1] + v[2] + v[5] + v[6], (v[7] if len(v) > 7 else 0), own


def interference(s0: tuple, s1: tuple, wall: float) -> dict[str, float]:
    """Average cores of steal and of in-VM external work between two
    cpu_snapshot()s, plus the own tree's CPU seconds."""
    own = (s1[2] - s0[2]) / CLK
    return {
        "steal_cores": (s1[1] - s0[1]) / CLK / wall,
        "ext_cores": max(0.0, (s1[0] - s0[0]) / CLK - own) / wall,
        "cpu_s": own,
    }


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it.  Summed over a tree it counts the
    pages forked Python workers share with their daemon once, where a
    sum of RSS counts them once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process ended between listing and reading
    return 0


class MemSampler:
    """Peak summed PSS of a process tree, sampled at a fixed interval on
    a daemon thread between start() and stop()."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval = root, interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(pss_bytes(p) for p in tree(self.root, proc_table()))
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


def spark_jvms() -> list[int]:
    """Pids of running Spark driver JVMs (local-mode sessions included)."""
    found = []
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(int(ent))
    return found


def pids_with_env(marker: bytes) -> list[int]:
    """Pids whose environment holds ``marker`` (a KEY=value entry), i.e.
    every process a benchmark run started, however deeply nested."""
    found = []
    for ent in os.listdir("/proc"):
        if not ent.isdigit() or int(ent) == os.getpid():
            continue
        try:
            with open(f"/proc/{ent}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if marker in env:
            found.append(int(ent))
    return found


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap(total: int | None = None) -> str:
    """Driver heap for a local-mode session: an eighth of physical RAM,
    between 1 and 8 GiB.  In local mode the driver JVM hosts every task
    slot, and the Python workers and page cache need the rest."""
    total = mem_total_bytes() if total is None else total
    mb = min(max(total // 8 // 2**20, 1024), 8192)
    return f"{mb}m"
