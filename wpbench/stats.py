"""Summary statistics and host readings: medians, the p90 sample-count
rule, host-noise records and peak resident memory."""

from __future__ import annotations

import os
import statistics
import time

# A p90 is reported only when at least ten samples lie beyond it.
TAIL_MIN_SAMPLES = 100

# A run is flagged noisy (never normalised) past this much CPU steal.
# The load average is recorded but not used: it includes the run's own
# JVM, which keeps every core busy during set-up.
NOISY_STEAL_PCT = 5.0


def median(values) -> float:
    return float(statistics.median(values))


def p90(values):
    """The 90th percentile, or None when fewer than
    ``TAIL_MIN_SAMPLES`` samples exist."""
    if len(values) < TAIL_MIN_SAMPLES:
        return None
    return float(statistics.quantiles(values, n=10, method="inclusive")[-1])


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


class HostNoise:
    """CPU steal and load average over a measured interval, plus ``nproc``.
    Stored beside the metrics so a noisy run can be flagged."""

    def __init__(self):
        self._ticks = _cpu_ticks()
        self._load = os.getloadavg()[0]

    def finish(self) -> dict:
        total, steal = _cpu_ticks()
        d_total = max(total - self._ticks[0], 1)
        steal_pct = 100.0 * (steal - self._ticks[1]) / d_total
        return {
            "nproc": nproc(),
            "steal_pct": round(steal_pct, 3),
            "loadavg_1m_start": self._load,
            "loadavg_1m_end": os.getloadavg()[0],
            "noisy": steal_pct > NOISY_STEAL_PCT,
        }


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of process
    ``root`` and all its live descendants: the Python driver, its JVM
    and Spark's Python workers."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was listed
            continue
        procs[int(name)] = fields
    ticks = 0
    for pid, fields in procs.items():
        p = pid
        while p not in (root, 0, 1) and p in procs:
            p = int(procs[p][1])  # parent pid
        if p == root:
            ticks += sum(int(x) for x in fields[11:15])  # utime..cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid) -> int:
    """Peak resident set (VmHWM) of a process, 0 when it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up is included)."""
    with open("/proc/self/stat") as f:
        after_comm = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_comm[19])  # field 22, starttime
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def process_start_perf() -> float:
    """The process start expressed on the ``time.perf_counter`` clock."""
    return time.perf_counter() - process_age_s()
