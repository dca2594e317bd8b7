"""The one measurement protocol (tgres_spark/measure.py): steal
arithmetic, best-run steal, full materialization, the budget key, and
the single owner of every staging directory."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tgres_spark import measure

REPO = Path(__file__).resolve().parent.parent

# /proc/stat cpu row: user nice system idle iowait irq softirq steal
#                     guest guest_nice
_BASE = [0] * 10


def test_steal_of_truncated_row_is_none():
    assert measure.steal_pct(_BASE[:7], [5] * 7) is None
    assert measure.steal_pct(None, _BASE) is None
    assert measure.steal_pct(_BASE, _BASE) is None  # no busy time


def test_steal_excludes_idle_iowait_and_guest():
    # 90 user + 10 steal busy; guest 90 is already inside user
    row = [90, 0, 0, 0, 0, 0, 0, 10, 90, 0]
    assert measure.steal_pct(_BASE, row) == 10.0
    idle = [90, 0, 0, 5000, 700, 0, 0, 10, 90, 0]
    assert measure.steal_pct(_BASE, idle) == 10.0


def test_reported_steal_is_the_best_runs(monkeypatch):
    # three runs of 2 s, 1 s, 3 s; only the 1 s run is unstolen
    runs = [(2.0, 50), (1.0, 0), (3.0, 20)]
    clock, rows, now, cpu = [], [], 0.0, list(_BASE)
    for sec, steal in runs:
        rows.append(list(cpu))
        cpu = [cpu[0] + 100 - steal] + cpu[1:7] + [cpu[7] + steal] + cpu[8:]
        rows.append(list(cpu))
        clock += [now, now + sec]
        now += sec
    monkeypatch.setattr(measure, "cpu_sample", iter(rows).__next__)
    monkeypatch.setattr(
        measure, "time", SimpleNamespace(perf_counter=iter(clock).__next__)
    )
    monkeypatch.setattr(measure, "materialize", lambda df: None)
    spark = SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: None),
        sparkContext=SimpleNamespace(setJobDescription=lambda d: None),
    )
    assert measure.time_key(spark, lambda k: None, "k") == (1.0, 0.0)
    # the whole 3-run window was 70/300 stolen
    assert measure.steal_pct(rows[0], rows[-1]) == round(7000 / 300, 2)


def test_materialize_evaluates_what_count_prunes(spark):
    df = spark.range(3).select(
        "id",
        F.when(F.col("id") >= 0, F.raise_error(F.lit("pruned"))).alias("x"),
    )
    assert df.count() == 3
    with pytest.raises(Exception, match="pruned"):
        measure.time_key(spark, lambda k: df, "raise_error", runs=1)


def _budget(**key):
    return {**key, "tolerance": 1.25, "abs_margin_s": 0.15,
            "queries": {"a": 1.0, "b": 2.0, "c": 0.1}}


def test_judge_flags_only_under_a_matching_key():
    key = {"sf": 0.1, "cpus": 4, "materialize": "noop"}
    timings = {"a": 5.0, "b": 2.0, "c": 0.2}
    got = measure.judge(timings, _budget(**key), key)
    # c is 2x its budget but within the absolute margin
    assert got == {"budget_median_ratio": 2.0,
                   "budget_violations": {"a": 5.0},
                   "budget_mismatch": None}
    c32 = {**key, "cpus": 32}
    got = measure.judge(timings, _budget(**c32), key)
    assert got["budget_violations"] == {}
    assert got["budget_median_ratio"] is None
    assert got["budget_mismatch"] == {"budget": c32, "run": key}
    # a budget frozen before the key existed never gates
    got = measure.judge(timings, _budget(sf=0.1), key)
    assert got["budget_violations"] == {} and got["budget_mismatch"]


def test_mkdtemp_only_inside_model_workdir():
    hits = []
    for p in sorted((REPO / "tgres_spark").rglob("*.py")):
        tree = ast.parse(p.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for n in ast.walk(fn):
                    owner.setdefault(id(n), fn.name)
        for n in ast.walk(tree):
            name = getattr(n, "attr", None) or getattr(n, "id", None)
            if name == "mkdtemp":
                hits.append((p.name, owner.get(id(n))))
    assert hits == [("model.py", "workdir")]


_STAGE = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
import __spark_entry__ as e
spark = SparkSession.builder.master("local[2]").getOrCreate()
e.queries()["rrd_retention_prune"](spark, {sf!r}).collect()
tmp = spark.sparkContext._temp_dir
print(json.dumps({{"tmp": tmp, "staged": [
    os.path.join(tmp, d) for d in os.listdir(tmp) if d.startswith("tgres_")
]}}))
"""


def test_staging_dir_is_gone_after_the_session_exits():
    out = subprocess.run(
        [sys.executable, "-c", _STAGE.format(repo=str(REPO), sf=SF_SMOKE)],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert len(got["staged"]) == 1
    # the JVM runs its shutdown hooks as the Python process exits
    deadline = time.monotonic() + 30
    while os.path.exists(got["tmp"]) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not os.path.exists(got["staged"][0])
    assert not os.path.exists(got["tmp"])
