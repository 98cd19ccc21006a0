"""Process and machine counters read from ``/proc`` (Linux).

Python worker CPU is summed over the pyspark daemon and the workers it
forks, all descendants of this process: user + system time of the live
processes plus the reaped-children time the daemon has collected, so a
worker that exits mid-pass is still counted.
"""

from __future__ import annotations

import os
import re
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, utime+stime, cutime+cstime) in seconds, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return ppid, own, reaped


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(root: int | None = None) -> list[int]:
    """Pids of pyspark daemon/worker processes descending from ``root``."""
    root = os.getpid() if root is None else root
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    out = []
    for pid in parent:
        p, hops = parent.get(pid), 0
        while p and p != root and hops < 64:
            p, hops = parent.get(p), hops + 1
        if p == root and "pyspark.daemon" in _cmdline(pid):
            out.append(pid)
    return out


def worker_cpu_s(pids: list[int]) -> float:
    """Total CPU seconds of ``pids`` including their reaped children."""
    total = 0.0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += st[1] + st[2]
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Largest peak resident set (VmHWM) among ``pids``, in MB."""
    best = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
                        break
        except OSError:
            pass
    return best


def machine_sample() -> dict:
    """Cumulative steal/total jiffies and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"steal": steal, "total": sum(cpu), "load1": load1}


def steal_pct(before: dict, after: dict) -> float:
    dt = after["total"] - before["total"]
    return 100.0 * (after["steal"] - before["steal"]) / dt if dt else 0.0


def speed_probe_ms(repeats: int = 5) -> float:
    """Median milliseconds of a fixed pure-Python loop (regex scan, dict
    updates, string splits) that touches none of the program: a reading
    of the machine's current single-thread speed, to tell a slow run
    from a slow program."""
    text = "<div class=x><a href='y'>hello world</a></div>" * 200
    tag = re.compile(r"<(/?)(\w+)([^>]*)>")
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        counts: dict = {}
        for _i in range(30):
            for m in tag.finditer(text):
                counts[m.group(2)] = counts.get(m.group(2), 0) + 1
            sum(len(w) for w in text.split())
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3
