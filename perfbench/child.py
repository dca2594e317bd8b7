"""One workload run in its own process: start Spark, set up, time the
closed loop, check the outputs, write a JSON result.

``run.py`` starts this process and owns its process tree; run that
instead of this file.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(1, str(HERE.parent))  # the checkout root holds tgres_spark

from common import (  # noqa: E402
    cpu_times, loadavg_1m, ncpus, steal_share, tree_cpu_s, tree_peak_rss_mb,
)
from eventlog import GroupTotals, fold_file  # noqa: E402


# Spark task slots. On a 4-vCPU machine this leaves the JVM's compiler
# and GC threads and the Python driver free cores, and lets the guest
# scheduler move work off a vCPU the hypervisor is stealing from.
SPARK_CORES = 2


class Tracer:
    """Job-group tagging for the traced run; a no-op otherwise, so the
    untraced run calls nothing extra into Spark."""

    def __init__(self, spark, on: bool):
        self.sc, self.on = spark.sparkContext, on
        self.notes: list[str] = []

    def group(self, name: str) -> None:
        if self.on:
            self.sc.setJobGroup(name, name)

    def note(self, msg: str) -> None:
        self.notes.append(msg)


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def jvm_kept_mb(spark) -> tuple[float, float]:
    """Memory the JVM keeps, in MB: the heap in use after a full
    collection, and the class metadata (metaspace). Garbage not yet
    collected is left out, since how much of it there is depends on when
    the collector last ran, and so is the JIT's code cache."""
    # Python objects that died in reference cycles still pin their JVM
    # objects through py4j until Python's own collector frees them
    gc.collect()
    mf = spark._jvm.java.lang.management.ManagementFactory
    mem = mf.getMemoryMXBean()
    # the first collection queues Spark's weakly held broadcasts and
    # shuffles for its cleaner thread; the second frees what it released
    mem.gc()
    time.sleep(1.0)
    mem.gc()
    meta = sum(p.getUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getName() == "Metaspace")
    return mem.getHeapMemoryUsage().getUsed() / 2**20, meta / 2**20


def exec_layers(wl, event_dir: Path) -> tuple[dict, dict]:
    """Executor metrics per timed operation, folded from the event log
    by job group; streaming jobs carry their query's run id as group."""
    (log,) = [p for p in event_dir.iterdir() if p.is_file()]
    totals = fold_file(str(log))
    labels = wl.group_labels()
    timed = set(wl.timed_groups())
    per_group: dict[str, GroupTotals] = {}
    for group, tot in totals.items():
        label = labels.get(group, group)
        if label in timed or group in labels:
            per_group.setdefault(label, GroupTotals()).add(tot)
    allg = GroupTotals()
    for tot in per_group.values():
        allg.add(tot)
    ops = max(1, wl.ops())
    reads = [per_group[g] for g in wl.read_groups() if g in per_group]
    mb = 2.0**20
    layers = {
        "render.jobs_per_req": sum(g.jobs for g in reads) / max(1, wl.reads()),
        "render.tasks_per_req": sum(g.tasks for g in reads) / max(1, wl.reads()),
        "exec.run_ms": allg.run_ms / ops,
        "exec.cpu_ms": allg.cpu_ms / ops,
        "exec.gc_ms": allg.gc_ms / ops,
        "exec.shuffle_read_mb": allg.shuffle_read_bytes / mb / ops,
        "exec.shuffle_write_mb": allg.shuffle_write_bytes / mb / ops,
        "exec.spill_mb": allg.spill_bytes / mb / ops,
        "exec.jobs": allg.jobs / ops,
        "exec.stages": allg.stages / ops,
        "exec.tasks": allg.tasks / ops,
        "driver.share": 1.0 - allg.busy_ms / (wl.timed_s * 1e3),
    }
    groups = {
        g: {"jobs": t.jobs, "stages": t.stages, "tasks": t.tasks,
            "run_ms": round(t.run_ms), "cpu_ms": round(t.cpu_ms),
            "busy_ms": round(t.busy_ms)}
        for g, t in sorted(per_group.items())
    }
    return layers, groups


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    work = Path(args.work)

    t0 = time.perf_counter()
    from tgres_spark.session import get_spark

    n = min(SPARK_CORES, ncpus())
    master = f"local[{n}]"
    spark = get_spark("perfbench", master=master, shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    from ingest_wl import IngestWorkload
    from render_wl import RenderWorkload

    cls = {"render": RenderWorkload, "ingest": IngestWorkload}[args.workload]
    tracer = Tracer(spark, bool(args.trace))
    wl = cls(spark, work, args.seed, tracer)
    wl.build()
    t1 = time.perf_counter()
    wl.warmup()
    setup_wall_s = time.perf_counter() - t0
    # every process of the tree started in set-up, so its CPU time so
    # far is set-up's
    setup_cpu_s = tree_cpu_s(os.getpid())
    warmup_s = setup_wall_s - (t1 - t0)

    load = loadavg_1m()
    gc0 = gc_ms(spark) if tracer.on else 0.0
    before = cpu_times()
    wl.run(args.seconds)
    after = cpu_times()
    peak_rss_mb = tree_peak_rss_mb(os.getpid())
    layers: dict[str, float] = {}
    groups: dict = {}
    if tracer.on:
        layers = {
            "session.start_s": session_s,
            "jvm.gc_ms_per_op": (gc_ms(spark) - gc0) / max(1, wl.ops()),
            **wl.layers(),
        }
    heap_mb, meta_mb = jvm_kept_mb(spark)
    python_mb = tree_peak_rss_mb(os.getpid(), with_jvm=False)
    spark.stop()
    if tracer.on:
        ex, groups = exec_layers(wl, work / "eventlog")
        layers.update(ex)
    problems = wl.check()

    metrics = wl.metrics() if wl.ops() else {}
    result = {
        "setup_cpu_s": setup_cpu_s,
        "setup_wall_s": setup_wall_s,
        "mem_kept_mb": heap_mb + meta_mb + python_mb,
        "memory_mb": {"jvm_heap_live": heap_mb, "jvm_metaspace": meta_mb,
                      "python_peak_rss": python_mb, "tree_peak_rss": peak_rss_mb},
        "ops": wl.ops(),
        "errors": wl.errors,
        "failed": wl.failed,
        "problems": problems + tracer.notes,
        "metrics": metrics,
        "named": {k: list(v) for k, v in wl.named(metrics).items()} if metrics else {},
        "per_kind": wl.per_kind() if metrics else {},
        "series_ms": [round(x, 1) for x in wl.series_ms()],
        "layers": layers,
        "exec_groups": groups,
        "provenance": {
            "steal_pct": 100.0 * steal_share(before, after),
            "loadavg_1m": load,
            "nproc": ncpus(),
            "spark_master": master,
            "warmup_ops": wl.warmup_ops,
            "session_s": session_s,
            "build_s": t1 - t0 - session_s,
            "warmup_s": warmup_s,
            "timed_s": wl.timed_s,
        },
    }
    Path(args.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
