"""Small, dependency-free arithmetic and process readings for the
benchmark. Everything here is pure except ``tree_cpu_s``, ``descendants``
and ``vm_hwm_mb``, which read ``/proc``.
"""

from __future__ import annotations

import math
import os
import statistics

__all__ = ["median", "quartiles", "iqr_share", "bracketed_ratios",
           "tree_cpu_s", "descendants", "vm_hwm_mb"]


def median(values):
    """Median of a non-empty sequence of numbers."""
    vals = list(values)
    if not vals:
        raise ValueError("median of an empty sequence")
    return statistics.median(vals)


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them
    (its default 'exclusive' method); a single value is its own quartiles."""
    vals = list(values)
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def iqr_share(values):
    """Distance between the first and third quartile as a share of the
    median: the spread measure the benchmark's bounds are judged by."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def bracketed_ratios(job_rates, cal_rates):
    """Ratio of each job pass's rate to the geometric mean of the
    calibration passes run just before and just after it.

    ``cal_rates`` has one more entry than ``job_rates``: the passes run
    cal, job, cal, job, ..., cal.
    """
    if len(cal_rates) != len(job_rates) + 1:
        raise ValueError("need exactly one calibration pass around each job "
                         f"pass: {len(job_rates)} jobs, {len(cal_rates)} cal")
    return [j / math.sqrt(cal_rates[i] * cal_rates[i + 1])
            for i, j in enumerate(job_rates)]


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid, proc="/proc"):
    """CPU-seconds (user + system) spent so far by ``root_pid`` and every
    live process below it, plus the children they have reaped. The
    difference of two readings is what the tree cost in between, whichever
    of its processes spent it."""
    total = 0
    for pid in [root_pid] + descendants(root_pid, proc):
        try:
            with open(f"{proc}/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def descendants(root_pid, proc="/proc"):
    """Pids of every live process below ``root_pid`` in the process tree."""
    children = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        # comm may contain spaces or parentheses; ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid, proc="/proc"):
    """Peak resident set size (VmHWM) of a process in MB, or None if it has
    exited."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None
