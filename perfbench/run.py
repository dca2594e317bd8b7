"""tgres_spark benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload render --seed 1 --seconds 12 --trace 0

Runs one workload (``render`` or ``ingest``, see README.md) in a child
process that owns the Spark session, checks its outputs and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it holds the workload's metrics under the names of its own domain,
the machine's provenance (steal, load, CPUs, Spark master, warm-up size)
and any output problems.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` reports the per-layer metrics instead. It runs the
workload twice with the same seed and a third of the operations each:
untraced, then traced (an uncompressed event log, a streaming
listener, job groups and stopwatch splits). The tracing overhead
compares the two runs' CPU time per operation; the end-to-end figures
on the detail line are the untraced run's.

Run from the root of a checkout. Scratch files go under
``.perfbench_work/`` there and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_LIMIT_S = 170
DRIVER_MEM = "2g"


class RunFailed(Exception):
    pass


def _group_alive(pgid: int) -> bool:
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state ppid pgrp ...; zombies are already dead
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of the child's group (the JVM and the
    Python workers too) to end; terminate, then kill, stragglers."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + grace_s
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)
    raise RunFailed(f"process group {pgid} did not end")


def _child_env(work: Path, trace: bool) -> dict[str, str]:
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed heap, so garbage collection does not follow the JVM's
        # resizing; a fixed set of JIT compiler threads, so their CPU
        # time can be told apart (common.tree_cpu_s); temp files in the
        # run's directory, no perf-data file elsewhere
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads "
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
        ),
    }
    if trace:
        (work / "eventlog").mkdir()
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            # Spark's default zstd log needs a decompressor the
            # standard library does not have
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    (work / "tmp").mkdir()
    env = dict(os.environ)
    env.update({
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "TGRES_SPARK_DRIVER_MEM": DRIVER_MEM,
    })
    return env


def run_child(workload: str, seed: int, seconds: float, trace: bool,
              work: Path, deadline: float) -> dict:
    """Generate the inputs, run child.py in its own process group, reap
    the whole group and return the child's result."""
    work.mkdir(parents=True)
    gen_s = gen_cpu_s = 0.0
    if workload == "render":
        from render_wl import generate

        t0, c0 = time.perf_counter(), time.process_time()
        generate(work, seed)
        gen_s = time.perf_counter() - t0
        gen_cpu_s = time.process_time() - c0
    out, log = work / "result.json", work / "child.log"
    cmd = [
        sys.executable, str(HERE / "child.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(int(trace)), "--work", str(work), "--out", str(out),
    ]
    with open(log, "w") as lf:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=_child_env(work, trace), stdout=lf,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:  # timed out or interrupted
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _reap(proc.pid)
    if rc != 0 or not out.exists():
        tail = log.read_text()[-4000:]
        why = "timed out" if rc is None else f"exited {rc}"
        raise RunFailed(f"{workload} child {why}:\n{tail}")
    res = json.loads(out.read_text())
    if not res["ops"]:
        raise RunFailed(f"{workload}: no operation succeeded: {res['problems']}")
    res["setup_cpu_s"] += gen_cpu_s
    res["setup_wall_s"] += gen_s
    res["provenance"]["input_gen_s"] = gen_s
    return res


def end_to_end(res: dict) -> dict[str, float]:
    return {"setup_s": res["setup_cpu_s"], "mem_kept_mb": res["mem_kept_mb"],
            "cpu_ms_per_op": res["metrics"]["cpu_ms_per_op"]}


def overhead(plain: dict, traced: dict) -> dict[str, float]:
    """Traced against untraced run of the same seed, in percent: CPU
    per operation (the gated figure) and median wall time."""
    return {
        key: 100.0 * (traced["metrics"][key] / plain["metrics"][key] - 1.0)
        for key in ("cpu_ms_per_op", "p50_ms")
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("render", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still reaps its child's process group
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))

    if not (ROOT / "tgres_spark" / "__init__.py").is_file():
        print(f"no tgres_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(HERE))

    base = ROOT / ".perfbench_work"
    deadline = time.monotonic() + RUN_LIMIT_S
    runs = []
    # a traced run holds two children in one run's time limit, so each
    # times a third of the operations
    seconds = args.seconds / 3 if args.trace else args.seconds
    try:
        for trace in (False, True) if args.trace else (False,):
            work = base / f"{args.workload}-s{args.seed}-t{int(trace)}-{os.getpid()}"
            try:
                runs.append(run_child(args.workload, args.seed, seconds,
                                      trace, work, deadline))
            finally:
                shutil.rmtree(work, ignore_errors=True)
    except RunFailed as ex:
        print(ex, file=sys.stderr)
        return 1
    finally:
        with contextlib.suppress(OSError):  # left when another run is live
            base.rmdir()

    res = runs[-1]
    attempted = sum(r["ops"] + r["errors"] for r in runs)
    failed = min(attempted, sum(r["failed"] for r in runs))
    problems = [p for r in runs for p in r["problems"]]
    e2e = end_to_end(runs[0])
    if args.trace:
        over = overhead(runs[0], res)
        values = {**res["layers"], "trace.overhead_pct": over["cpu_ms_per_op"]}
        wanted = spec["per_layer"]
    else:
        values, wanted = e2e, spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    plain = runs[0]
    named = {k: {"value": v, "unit": u} for k, (v, u) in plain["named"].items()}
    named["setup_wall_s"] = {"value": plain["setup_wall_s"], "unit": "s"}
    named.update({k: {"value": v, "unit": "MB"} for k, v in plain["memory_mb"].items()})
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": plain["ops"],
        "end_to_end": e2e,
        "named": named,
        "per_kind": plain["per_kind"],
        "series_ms": plain["series_ms"],
        "provenance": plain["provenance"],
        "problems": problems,
    }
    if args.trace:
        detail["trace_overhead_pct"] = over
        detail["traced_provenance"] = res["provenance"]
        detail["exec_groups"] = res["exec_groups"]
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
