"""CPU, steal and memory of this process tree, read from /proc.

The tree is the benchmark's Python process, the Spark JVM it launched and the
pyspark daemon with its Python workers. A process's CPU is its own
utime + stime plus cutime + cstime, the time of children it has
reaped, so the CPU of a worker that exits survives in its parent's
counters. The machine-wide /proc/stat count would also charge other
tenants of the VM to the benchmark.
"""

from __future__ import annotations

import os
import signal
import time

_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended while the tree was read
        return None
    # comm may hold spaces; the fields after it are space separated
    return data[data.rindex(")") + 2 :].split()


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime + stime + cutime + cstime in ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is None:
            continue
        # fields from "state": ppid=1, utime=11, stime=12, cutime=13, cstime=14
        out[int(name)] = (int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]))
    return out


def _tree(procs: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live
    descendant, including children they have reaped."""
    procs = _processes()
    return sum(procs[p][1] for p in _tree(procs, os.getpid()) if p in procs) / _TCK


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole VM from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    started_after_boot = int(_stat_fields("self")[19]) / _TCK
    return time.time() - (uptime - started_after_boot)


def peak_rss_mb(pids: list[int]) -> float:
    """Largest resident high-water mark (VmHWM) among `pids`, in MB."""
    best = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return best


def python_workers() -> list[int]:
    """The pyspark daemon and its workers: Python processes below the JVM."""
    out = []
    for pid in _tree(_processes(), os.getpid()):
        if pid == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            out.append(pid)
    return out


def descendants() -> dict[int, str]:
    """Every live process below this one: pid -> its start time, so that
    a pid the kernel hands out again later is not mistaken for it."""
    out = {}
    for pid in _tree(_processes(), os.getpid()):
        if pid != os.getpid():
            f = _stat_fields(str(pid))
            if f is not None:
                out[pid] = f[19]
    return out


def _alive(pid: int, started: str) -> bool:
    try:  # reap it if it is this process's own child
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    f = _stat_fields(str(pid))
    if f is None or f[19] != started:
        return False
    # a zombie has ended, but one of this process's own is not yet reaped
    return f[0] != "Z" or int(f[1]) == os.getpid()


def end_processes(procs: dict[int, str], grace_s: float = 20.0) -> None:
    """Wait up to `grace_s` for `procs` (from `descendants`) to exit,
    then send SIGTERM, later SIGKILL, and return once each has ended."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        live = {p: s for p, s in procs.items() if _alive(p, s)}
        for pid in live if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while live and time.time() < deadline:
            time.sleep(0.05)
            live = {p: s for p, s in live.items() if _alive(p, s)}
        if not live:
            return
