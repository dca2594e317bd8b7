#!/usr/bin/env python3
"""Headline benchmark: times every key in ``measure.BENCH_QUERIES`` at
$SPARK_GRAFT_SF_DIR (default ``SF_DIR``, the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec}, ...}.

The protocol (warm-up, clearCache, best of 3, full materialization
through the noop sink, per-run steal) is ``tgres_spark/measure.py``.
Session startup is not timed. The run is gated against
BENCH_BUDGET.json only when the budget was frozen under this run's
(sf, cpus, materialize) key. Each violated key (worst 16 first) is
timed again alone, as extra evidence in ``violations_retry``.

Usage: python bench.py
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _inputs(spark) -> dict[str, dict]:
    """Per-table rows and bytes (parquet count() reads footers only),
    so a budget violation caused by regenerated data shows as data."""
    from pyspark.sql import functions as F

    out = {}
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        p = Path(SF_DIR) / f"{t}.parquet"
        if p.exists():
            files = [p] if p.is_file() else list(p.rglob("*.parquet"))
            out[t] = {"rows": spark.read.parquet(str(p)).count(),
                      "bytes": sum(f.stat().st_size for f in files)}
    if "documents" in out:
        out["documents"]["text_chars"] = spark.read.parquet(
            f"{SF_DIR}/documents.parquet"
        ).agg(F.sum(F.length("text"))).collect()[0][0]
    return out


def _read(name: str) -> dict:
    try:
        return json.loads((REPO / name).read_text())
    except (OSError, json.JSONDecodeError):
        return {}


def main() -> None:
    from tgres_spark import measure
    from tgres_spark.session import get_spark

    import __spark_entry__ as e

    # contention provenance, sampled before the session starts
    load1 = round(os.getloadavg()[0], 2)
    n_pids = sum(1 for p in os.listdir("/proc") if p.isdigit())
    cpu0 = measure.cpu_sample()

    spark = get_spark("tgres_spark_bench")
    qs = e.queries()

    def build(k):
        return qs[k](spark, SF_DIR)

    inputs = _inputs(spark)
    measure.warmup(spark, build, measure.BENCH_QUERIES)
    timed = {k: measure.time_key(spark, build, k)
             for k in measure.BENCH_QUERIES}
    timings = {k: sec for k, (sec, _) in timed.items()}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    key = {"sf": sf, "cpus": spark.sparkContext.defaultParallelism,
           "materialize": measure.MATERIALIZE}
    gate = measure.judge(timings, _read("BENCH_BUDGET.json"), key)
    viol = gate["budget_violations"]
    for k, r in viol.items():
        print(f"# BUDGET-EXCEEDED {k}: {r}x budget", file=sys.stderr)
    if gate["budget_mismatch"]:
        print(f"# BUDGET-MISMATCH {gate['budget_mismatch']}", file=sys.stderr)
    base_q = _read("BASELINE.json").get("queries") or {}
    vs_baseline = {k: round(timings[k] / base_q[k], 3)
                   for k in timings if base_q.get(k)}
    retry = {}
    for k in sorted(viol, key=viol.get, reverse=True)[:16]:
        sec, steal = measure.time_key(spark, build, k)
        retry[k] = {"sec": sec, "cpu_steal_pct": steal}

    out_json = json.dumps({
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        **key,
        "loadavg_1m": load1,
        "n_pids": n_pids,
        "cpu_steal_pct": measure.steal_pct(cpu0, measure.cpu_sample()),
        "runs": measure.RUNS,
        "estimator": "min",
        "vs_baseline": vs_baseline or "no numeric timings in BASELINE.json",
        "violations_retry": retry,
        "queries_steal": {k: steal for k, (_, steal) in timed.items()},
        "inputs": inputs,
        **gate,
    })
    # written before printing, so a lost stdout capture loses nothing
    try:
        (REPO / "BENCH_SELF.json").write_text(out_json + "\n")
    except OSError:
        pass
    print(out_json, flush=True)


if __name__ == "__main__":
    main()
