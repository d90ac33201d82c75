"""Host facts for a benchmark run: a stamp that makes a slowed host
visible (boot id, a fixed CPU probe, CPU steal share) and the peak RSS
of the driver JVM plus every Python process of the run, read from
/proc."""

from __future__ import annotations

import os
import time
from typing import NamedTuple


def _boot_id() -> str:
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def _cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat:
    user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_probe_s() -> float:
    """Wall time of a fixed single-threaded integer loop. The same host
    at the same load reads the same value; a host slowed by CPU steal
    or a noisy neighbour reads proportionally more."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


class HostStamp:
    """Run metadata, not a metric: call ``start()`` before the run and
    ``finish()`` after; ``as_dict()`` holds both probes and the steal
    share of all CPU time in between."""

    def __init__(self) -> None:
        self.boot_id = _boot_id()
        self.nproc = os.cpu_count() or 1
        self.probe_start_s = self.probe_end_s = 0.0
        self._cpu0: list[int] = []
        self.steal_share = 0.0

    def start(self) -> None:
        self._cpu0 = _cpu_times()
        self.probe_start_s = cpu_probe_s()

    def finish(self) -> None:
        self.probe_end_s = cpu_probe_s()
        delta = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        total = sum(delta[:8])
        self.steal_share = delta[7] / total if total and len(delta) > 7 else 0.0

    def as_dict(self) -> dict:
        return {
            "boot_id": self.boot_id,
            "nproc": self.nproc,
            "cpu_probe_start_s": round(self.probe_start_s, 4),
            "cpu_probe_end_s": round(self.probe_end_s, 4),
            "steal_share": round(self.steal_share, 4),
        }


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# HotSpot's G1 worker, concurrent-marking and refinement threads, and the
# VM thread that runs its safepoint operations.
_GC_THREADS = ("GC Thread", "G1 ", "VM Thread")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _descendants() -> list[int]:
    """This process and every process below it."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        stat = _read(f"/proc/{d}/stat") if d.isdigit() else None
        if stat is not None:
            # the command name may hold spaces; fields resume after ')'
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(d))
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class Cpu(NamedTuple):
    work: float
    jit: float
    gc: float


class CpuMeter:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM with all its threads, the Python workers), split into the
    JVM's JIT compiler threads, its garbage-collector threads, and the
    rest: the work.

    Each thread's run time comes from its schedstat, in nanoseconds. A
    thread that has exited keeps the time last read for it, so totals
    never go down; only the time a thread used after the last read and
    before it exited is lost. Time the hypervisor steals is charged to no
    thread, so these deltas hold steadier than wall time on a host with
    CPU steal. JIT compilation is still settling after one warm pass, and
    a collection is charged to whichever op happens to trigger it, so
    both are kept apart from the work."""

    def __init__(self) -> None:
        self._live: dict[tuple[int, str], tuple[int, float]] = {}
        self._gone = [0.0, 0.0, 0.0]

    def read(self) -> Cpu:
        live: dict[tuple[int, str], tuple[int, float]] = {}
        for pid in _descendants():
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                run = _read(f"/proc/{pid}/task/{tid}/schedstat")
                name = _read(f"/proc/{pid}/task/{tid}/comm")
                if run is None or name is None:
                    continue
                kind = (1 if name.startswith(_JIT_THREADS)
                        else 2 if name.startswith(_GC_THREADS) else 0)
                live[(pid, tid)] = (kind, int(run.split()[0]) / 1e9)
        for key, (kind, secs) in self._live.items():
            if key not in live:
                self._gone[kind] += secs
        self._live = live
        totals = list(self._gone)
        for kind, secs in live.values():
            totals[kind] += secs
        return Cpu(*totals)


class JvmCpu:
    """JIT and GC thread CPU summed over the timed ops."""

    def __init__(self) -> None:
        self.jit = self.gc = 0.0

    def add(self, before: Cpu, after: Cpu) -> None:
        self.jit += after.jit - before.jit
        self.gc += after.gc - before.gc

    def per_pass(self, passes: int) -> dict[str, float]:
        return {"jvm.jit_cpu_s": self.jit / passes,
                "jvm.gc_cpu_s": self.gc / passes}


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and the Python workers it forks). Each ``sample()``
    sums the processes' high-water marks, so a peak between samples is
    still counted for every process alive at the sample."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        total = sum(_hwm_kb(pid) for pid in _descendants())
        self.peak_kb = max(self.peak_kb, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
