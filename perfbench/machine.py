"""What the machine looked like during a run: core count, load
average, pressure-stall figures and CPU ticks at start and end (so
the share stolen by other guests), and the peak resident memory of
this process and of the Spark JVM."""

from __future__ import annotations

import os


def loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def pressure() -> dict[str, dict[str, float]] | None:
    """``avg10``/``avg60`` of the ``some`` and ``full`` lines of
    /proc/pressure/{cpu,memory,io}; None where the kernel has no PSI."""
    out: dict[str, dict[str, float]] = {}
    for res in ("cpu", "memory", "io"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                lines = f.read().splitlines()
        except OSError:
            return None
        vals: dict[str, float] = {}
        for line in lines:
            kind, *fields = line.split()
            for kv in fields:
                k, _, v = kv.partition("=")
                if k in ("avg10", "avg60"):
                    vals[f"{kind}_{k}"] = float(v)
        out[res] = vals
    return out


def cpu_jiffies() -> dict[str, int] | None:
    """Busy, idle and steal clock ticks of all CPUs since boot, from
    the first line of /proc/stat. Steal is time the hypervisor gave
    this machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    user, nice, system, idle, iowait, irq, softirq, steal = fields
    return {"busy": user + nice + system + irq + softirq, "idle": idle + iowait, "steal": steal}


def steal_frac(start: dict | None, end: dict | None) -> float | None:
    """Share of CPU time stolen by other guests between two snapshots."""
    if not start or not end:
        return None
    delta = {k: end[k] - start[k] for k in start}
    total = sum(delta.values())
    return delta["steal"] / total if total else None


def snapshot() -> dict:
    return {"loadavg": loadavg(), "pressure": pressure(), "cpu_jiffies": cpu_jiffies()}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
