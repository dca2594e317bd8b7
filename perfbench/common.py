"""Shared helpers: machine provenance from /proc, process-tree CPU
time and memory, percentiles and the closed-loop meter.

Everything here reads the Linux /proc filesystem or the standard
library only, so the parent harness can use it without importing
Spark.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from pathlib import Path

_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from the first line of
    /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted inside user/nice
    total = sum(fields[:8])
    steal = fields[7] if len(fields) > 7 else 0
    return steal, total


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share (0..1) of CPU time the hypervisor stole between two
    cpu_times() samples."""
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d.name))[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat_fields(pid: int) -> list[str]:
    # the command name may contain spaces: the fields follow the ')'
    return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks (utime + stime) of a JVM's JIT compiler threads."""
    ticks = 0
    for t in Path(f"/proc/{pid}/task").iterdir():
        try:
            stat = (t / "stat").read_text()
        except OSError:
            continue
        # the thread's name sits between the parentheses
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            tf = stat.rsplit(")", 1)[1].split()
            ticks += int(tf[11]) + int(tf[12])
    return ticks


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` and its descendants,
    leaving out the JVM's JIT compiler threads. The JVM runs with a
    fixed set of compiler threads (run.py), so none of them ends and
    takes its CPU time into the process's total.

    Each process adds its reaped children's times (cutime, cstime), so
    a worker that has ended is still counted, once. The compiler
    threads are left out because their share depends on timing, not on
    the program's work. While the JVM warms up they drain a queue of
    compile requests with whatever CPU is free, so a run slowed by
    steal gives them more CPU per operation. In runs on the 4-vCPU VM
    this was built on, they took more CPU than all other threads
    together."""
    ticks = 0
    for p in descendants(pid):
        try:
            f = _stat_fields(p)
            # f[0] is the state (field 3): utime, stime, cutime, cstime
            # are fields 14-17
            ticks += sum(int(x) for x in f[11:15])
            if Path(f"/proc/{p}/comm").read_text().strip() == "java":
                ticks -= _jit_ticks(p)
        except OSError:
            continue
    return ticks / _TICKS


def tree_peak_rss_mb(pid: int, with_jvm: bool = True) -> float:
    """Sum of the kernel's RSS high-water marks (VmHWM) over ``pid``
    and its descendants: the driver Python, the JVM and the Python
    workers. No sampling, so no peak is missed; the sum bounds the
    tree's simultaneous peak from above. With the JVM's heap committed
    up front, the JVM's share mostly shows the heap size;
    ``with_jvm=False`` leaves it out."""
    kb = 0
    for p in descendants(pid):
        try:
            if not with_jvm and Path(f"/proc/{p}/comm").read_text().strip() == "java":
                continue
            for line in Path(f"/proc/{p}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
                    break
        except OSError:
            continue
    return kb / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Meter:
    """Times one operation of a closed loop: its wall time and the CPU
    time the whole process tree (driver Python, JVM, Python workers)
    spent on it, JIT compiler threads left out (``tree_cpu_s``)."""

    def __init__(self):
        self.pid = os.getpid()

    def time(self, fn, *args, **kwargs):
        c0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        dt = time.perf_counter() - t0
        return out, dt, tree_cpu_s(self.pid) - c0


def planned_ops(seconds: float, per_s: float) -> int:
    """The fixed number of operations a run times: ``seconds`` times a
    workload's rate constant. The count does not depend on how fast this
    run happens to be, so every run samples the same operations at the
    same point of the warm-up curve."""
    return max(1, round(seconds * per_s))


def split_request(layer: dict[str, list[float]], target: str, build,
                  total_s: float, out: str) -> None:
    """Traced runs: split one render request, already timed at
    ``total_s``, by repeating its first steps: DSL parse, frame build
    (``build()``: evaluator plus Spark analysis) and physical planning.
    The rest of the request (execution, collect, JSON) is its self
    time. Appends one sample per key of ``layer``."""
    from tgres_spark.dsl.parser import parse

    t0 = time.perf_counter()
    parse(target)
    t1 = time.perf_counter()
    df = build()
    t2 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t3 = time.perf_counter()
    for key, v in (("parse_ms", (t1 - t0) * 1e3), ("build_ms", (t2 - t1) * 1e3),
                   ("plan_ms", (t3 - t2) * 1e3),
                   ("self_ms", (total_s - (t3 - t1)) * 1e3),
                   ("json_bytes", float(len(out)))):
        layer.setdefault(key, []).append(v)


def request_layers(layer: dict[str, list[float]]) -> dict[str, float]:
    """Per-layer medians of the ``split_request`` samples (0 if none)."""
    def med(key: str) -> float:
        return statistics.median(layer[key]) if layer.get(key) else 0.0

    return {
        "dsl.parse_ms": med("parse_ms"),
        "dsl.build_ms": med("build_ms"),
        "plan.ms": med("plan_ms"),
        "render.self_ms": med("self_ms"),
        "render.json_bytes": med("json_bytes"),
    }
