"""Host fingerprint and process-tree memory, read from /proc."""

from __future__ import annotations

import os


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU seconds, summed over all CPUs since boot, that the hypervisor
    ran something else while this machine's CPUs were ready to run (the
    ``steal`` column of /proc/stat).  A run that lost many of them ran on
    a busy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, exclude: int | None = None) -> list[int]:
    """``pid`` and every process below it, except ``exclude`` and the
    processes below that."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p == exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(pid: int | None = None, exclude: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of ``pid`` and every process
    below it but ``exclude``'s subtree: this Python driver, the Spark JVM
    it launched and the JVM's Python workers, without the benchmark's
    DuckDB child."""
    return sum(vm_hwm_kb(p) for p in descendants(pid or os.getpid(), exclude)) / 1024.0


def become_subreaper() -> None:
    """Make this process the subreaper of everything it starts: a process
    orphaned below it (a Python worker of a JVM that has exited, say) is
    re-parented here instead of to init, so ``reap_children`` can wait
    for it."""
    import ctypes

    pr_set_child_subreaper = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace_s: float = 15.0) -> list[int]:
    """Wait until this process has no child left.  Children that have not
    exited after ``grace_s`` seconds are killed (and so are orphans that
    arrive after that); every one is waited for.  Returns the killed pids."""
    import signal
    import time

    deadline = time.monotonic() + grace_s
    killed: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return sorted(killed)
        if time.monotonic() > deadline:
            for p in set(_children().get(os.getpid(), [])) - killed:
                try:
                    os.kill(p, signal.SIGKILL)
                    killed.add(p)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
