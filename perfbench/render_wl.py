"""``render`` workload: a Graphite dashboard's read mix over archives.

Set-up writes a seeded catalog of 400 series ``srv.h<i>.cpu.<m>``
(1 day at 60 s) as raw parquet, then builds the archives with
``archive.materialize_archives(partitioned=True)``: the 60 s data plus
10 min and 1 h rollups. The timed phase is a closed loop with one
client cycling a seeded mix of eight request shapes; each cycle visits
every request once, in a seeded order. A run times a fixed number of
whole cycles.
"""

from __future__ import annotations

import hashlib
import json
import random
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

from common import Meter, planned_ops, quantile, request_layers, split_request

HOSTS = 100
METRICS = ("user", "system", "idle", "iowait")
STEP = 60
DAYS = 1
T0 = 1_700_006_400  # a UTC midnight
T_END = T0 + DAYS * 86400
SPECS = [("avg", 60), ("avg", 600), ("avg", 3600)]
BUCKETS = 4  # name buckets per day partition, sized for a small catalog
WARMUP_CYCLES = 1
# cycles timed per second of ``--seconds``: a warm cycle of eight
# requests takes about 6 s
CYCLES_PER_S = 1 / 6
KINDS = ("single", "sum", "mavg", "pct", "hiavg", "aspct", "rollup", "find")
# responses of these kinds are recomputed with DuckDB from the raw input
CHECKED_KINDS = ("single", "sum")


def generate(work: Path, seed: int) -> int:
    """Write the raw catalog ``work/raw/part-0.parquet`` (name, t, value)
    in time-major order; values carry three decimals so the engine's
    micro-unit sums are exact. Returns the number of points."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = [f"srv.h{h}.cpu.{m}" for m in METRICS for h in range(HOSTS)]
    n_series, n_steps = len(names), DAYS * 86400 // STEP
    rng = np.random.default_rng(seed)
    base = rng.integers(5_000, 60_000, n_series)
    noise = rng.integers(-5_000, 5_000, (n_steps, n_series))
    values = ((base + noise).clip(0) / 1000.0).ravel()
    idx = np.tile(np.arange(n_series, dtype=np.int32), n_steps)
    t = np.repeat(T0 + STEP * np.arange(1, n_steps + 1, dtype=np.int64), n_series)
    table = pa.table({
        "name": pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(names)),
        "t": t,
        "value": values,
    })
    (work / "raw").mkdir(parents=True, exist_ok=True)
    pq.write_table(table, work / "raw" / "part-0.parquet")
    return len(values)


@dataclass
class Request:
    rid: int
    kind: str
    target: str
    t_from: int
    t_to: int
    max_points: int | None = None


def request_set(seed: int) -> list[Request]:
    """One seeded instance of each of the eight shapes."""
    rng = random.Random(seed)
    out: list[Request] = []
    h = rng.randrange(HOSTS)
    d = rng.randrange(1, 10)
    m = rng.choice(METRICS)
    to = T_END - STEP * rng.randrange(0, 12 * 60)
    fr = to - 6 * 3600
    shapes = [
        ("single", f"srv.h{h}.cpu.{m}", fr, to, None),
        ("sum", f"sumSeries(srv.h*.cpu.{m})", fr, to, None),
        ("mavg", f"movingAverage(srv.h{h}.cpu.*,10)", fr, to, None),
        ("pct", f"percentileOfSeries(srv.h*.cpu.{m},95)", fr, to, 60),
        ("hiavg", f"highestAverage(srv.h*.cpu.{m},5)", fr, to, None),
        ("aspct", f"asPercent(srv.h{d}*.cpu.{m},sumSeries(srv.h{d}*.cpu.*))",
         fr, to, None),
        # 7 days at 100 points: BestRRA routes to the 1 h rollup
        ("rollup", f"averageSeries(srv.h*.cpu.{m})", T_END - 7 * 86400,
         T_END, 100),
        ("find", f"srv.h{d}*.cpu.*", 0, 0, None),
    ]
    for kind, target, f, t, mp in shapes:
        out.append(Request(len(out), kind, target, f, t, mp))
    return out


def _frame_json(df) -> str:
    """graphite-web JSON of an already evaluated frame, shaped like
    ``render_json``'s output."""
    rows = df.orderBy("name", "t").collect()
    series: dict[str, list] = {}
    for r in rows:
        series.setdefault(r["name"], []).append([r["value"], r["t"]])
    return json.dumps([{"target": k, "datapoints": v} for k, v in series.items()])


class RenderWorkload:
    name = "render"

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.requests = request_set(seed)
        self.rng = random.Random(seed + 1)
        self.lat: list[tuple[str, float, float]] = []  # (kind, wall s, cpu s)
        self.hashes: dict[int, dict[str, int]] = {}
        self.saved: dict[int, str] = {}
        self.failed = 0
        self.errors = 0  # timed operations that raised
        self.layer: dict[str, list[float]] = {}
        self.rollup_hits = 0
        self.warmup_ops = 0

    # -- set-up ---------------------------------------------------------
    def build(self) -> None:
        from tgres_spark import archive

        raw = self.spark.read.parquet(str(self.work / "raw"))
        t0 = time.perf_counter()
        self.archives = archive.materialize_archives(
            self.spark, raw, SPECS, str(self.work / "archive"),
            base_step=STEP, partitioned=True, n_buckets=BUCKETS,
        )
        self.materialize_s = time.perf_counter() - t0
        # render_json evaluates over a SeriesFrame (name, t, value);
        # the partitioned archive also carries its day/bucket columns
        self.catalog = self.archives.archives[1].df.select("name", "t", "value")

    def warmup(self) -> None:
        self.tracer.group("perfbench.warmup")
        for _ in range(WARMUP_CYCLES):
            for req in self.requests:
                self._call(req)
                self.warmup_ops += 1

    # -- one request ----------------------------------------------------
    def _rollup_ctx(self, req: Request):
        from tgres_spark import archive

        return archive.ArchiveDslContext(
            self.archives, req.t_from, req.t_to, max_points=req.max_points
        )

    def _call(self, req: Request):
        from tgres_spark import render
        from tgres_spark.dsl.evaluator import evaluate

        if req.kind == "find":
            return render.find_json(self.catalog, req.target), None
        if req.kind == "rollup":
            ctx = self._rollup_ctx(req)
            return _frame_json(evaluate(ctx, req.target)), ctx
        return render.render_json(
            self.catalog, [req.target], req.t_from, req.t_to,
            max_points=req.max_points,
        ), None

    def run(self, seconds: float) -> None:
        """Closed loop over a fixed number of whole cycles of the request
        set, so every run times the same mix at the same point of the
        warm-up curve. A traced run tags each request shape with its
        own job group and splits each request after it returns."""
        meter = Meter()
        for _ in range(planned_ops(seconds, CYCLES_PER_S)):
            order = list(self.requests)
            self.rng.shuffle(order)
            for req in order:
                self.tracer.group(f"render.{req.kind}")
                try:
                    (out, ctx), dt, cpu = meter.time(self._call, req)
                except Exception as ex:  # noqa: BLE001 - counted, run goes on
                    self.errors += 1
                    self.failed += 1
                    self.tracer.note(f"{req.kind} failed: {ex!r}")
                    continue
                self.lat.append((req.kind, dt, cpu))
                h = hashlib.sha1(out.encode()).hexdigest()
                seen = self.hashes.setdefault(req.rid, {})
                seen[h] = seen.get(h, 0) + 1
                if req.kind in CHECKED_KINDS:
                    self.saved.setdefault(req.rid, out)
                if self.tracer.on:
                    if ctx is not None and ctx.last_selected.step > STEP:
                        self.rollup_hits += 1
                    self._decompose(req, dt, out)
        self.timed_s = sum(dt for _, dt, _ in self.lat)

    def _decompose(self, req: Request, total_s: float, out: str) -> None:
        """Traced requests: layer samples (``split_request``); a browse
        only records its time."""
        from tgres_spark import render
        from tgres_spark.dsl.evaluator import evaluate

        if req.kind == "find":
            self.layer.setdefault("find_ms", []).append(total_s * 1e3)
            return

        def build():
            if req.kind == "rollup":
                return evaluate(self._rollup_ctx(req), req.target)
            return render.render_df(
                self.catalog, [req.target], req.t_from, req.t_to,
                max_points=req.max_points,
            )

        self.tracer.group("perfbench.layer")
        split_request(self.layer, req.target, build, total_s, out)

    # -- results --------------------------------------------------------
    def _ms(self, kind: str | None = None) -> list[float]:
        return [dt * 1e3 for k, dt, _ in self.lat if kind in (None, k)]

    def ops(self) -> int:
        return len(self.lat)

    def series_ms(self) -> list[float]:
        return self._ms()

    def metrics(self) -> dict[str, float]:
        ms = self._ms()
        return {
            "cpu_ms_per_op": 1e3 * sum(c for _, _, c in self.lat) / len(ms),
            "p50_ms": statistics.median(ms),
            "p90_ms": quantile(ms, 0.9),
            "rate_per_s": len(ms) / self.timed_s,
        }

    def named(self, m: dict[str, float]) -> dict[str, tuple[float, str]]:
        return {
            "render_p50_ms": (m["p50_ms"], "ms"),
            "render_p90_ms": (m["p90_ms"], "ms"),
            "render_rps": (m["rate_per_s"], "req/s"),
        }

    def per_kind(self) -> dict[str, dict[str, float]]:
        out = {}
        for kind in KINDS:
            if xs := self._ms(kind):
                cpu = [c * 1e3 for k, _, c in self.lat if k == kind]
                out[kind] = {"n": len(xs), "p50_ms": statistics.median(xs),
                             "cpu_p50_ms": statistics.median(cpu)}
        return out

    def layers(self) -> dict[str, float]:
        return {
            "archive.materialize_s": self.materialize_s,
            "archive.files": float(
                sum(1 for _ in (self.work / "archive").rglob("*.parquet"))
            ),
            "archive.rollup_hits": float(self.rollup_hits),
            **request_layers(self.layer),
            "find.p50_ms": (
                statistics.median(self.layer["find_ms"]) if "find_ms" in self.layer else 0.0
            ),
        }

    def timed_groups(self) -> list[str]:
        return [f"render.{k}" for k in KINDS]

    read_groups = timed_groups
    reads = ops

    def group_labels(self) -> dict[str, str]:
        return {}

    # -- output checks (after the timed phase, Spark stopped) -----------
    def check(self) -> list[str]:
        import duckdb

        problems = []
        for rid, seen in self.hashes.items():
            if len(seen) > 1:
                # every response after the first distinct one is wrong
                bad = sum(seen.values()) - max(seen.values())
                self.failed += bad
                problems.append(f"request {rid} answered {len(seen)} ways")
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW raw AS SELECT * FROM '{self.work}/raw/*.parquet'"
        )
        by_id = {r.rid: r for r in self.requests}
        for rid, out in self.saved.items():
            req = by_id[rid]
            want = _duck_expected(con, req)
            got = json.loads(out)
            if len(got) != 1 or not _points_equal(got[0]["datapoints"], want):
                self.failed += sum(self.hashes[rid].values())
                problems.append(f"{req.kind} {req.target} differs from DuckDB")
        return problems


def _duck_expected(con, req: Request) -> list[list[float]]:
    if req.kind == "single":
        sql = (
            "SELECT value, t FROM raw WHERE name = ? AND t BETWEEN ? AND ? "
            "ORDER BY t"
        )
        return [list(r) for r in con.execute(sql, [req.target, req.t_from, req.t_to]).fetchall()]
    # sumSeries(srv.h*.cpu.<m>): micro-unit sum per timestamp
    metric = req.target.rsplit(".", 1)[1].rstrip(")")
    sql = (
        "SELECT CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) "
        "AS DOUBLE) / 1000000.0, t FROM raw "
        "WHERE regexp_full_match(name, ?) AND t BETWEEN ? AND ? "
        "GROUP BY t ORDER BY t"
    )
    rx = rf"srv\.h[^.]*\.cpu\.{metric}"
    return [list(r) for r in con.execute(sql, [rx, req.t_from, req.t_to]).fetchall()]


def _points_equal(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    for (gv, gt), (wv, wt) in zip(got, want):
        if gt != wt or abs(gv - wv) > 1e-9 * max(1.0, abs(wv)):
            return False
    return True
