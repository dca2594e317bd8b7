"""``ingest`` workload: the streaming write path with a read after
every write.

Each operation drops one file of graphite lines (200 series x 30
points covering one 60 s slot) and one file of statsd packets (50
timers and 50 counters x 30 ticks) into watched directories, runs
the three file pipelines of ``tgres_spark.streaming.ingest`` with
``availableNow`` triggers and persistent checkpoints, then renders one
fixed target from the graphite parquet sink, which grows with every
operation. Closed loop, one client, a fixed number of operations a run.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
from pathlib import Path

from common import Meter, planned_ops, quantile, request_layers, split_request

HOSTS = 50
METRICS = ("user", "system", "idle", "iowait")
STATSD_NAMES = 50
TICKS = 30  # points per series per operation, 2 s apart
STEP = 60
WATERMARK = 120
T0 = 1_700_006_400
WARMUP_OPS = 1
# operations timed per second of ``--seconds``. A warm operation takes
# 3.5-6 s whatever its size (the three queries' fixed costs dominate);
# the rate times 8 of them at 12 s, as many as the time budget of all
# runs allows, at the cost of a timed phase longer than ``--seconds``
OPS_PER_S = 8 / 12
READ_TARGET = "sumSeries(ingest.h*.cpu.user)"
SINK_SCHEMA = "name string, t bigint, value double"


def drop_lines(seed: int, k: int) -> tuple[list[str], list[str]]:
    """Operation k's graphite and statsd lines. All timestamps fall in
    the slot (T0 + 60k, T0 + 60(k+1)], so each operation fills one
    slot; values have three decimals (graphite) or are integers."""
    rng = random.Random(seed * 1_000_003 + k)
    base = T0 + STEP * k
    g, s = [], []
    for j in range(TICKS):
        t = base + 2 * j + 1
        for h in range(HOSTS):
            for m in METRICS:
                g.append(f"ingest.h{h}.cpu.{m} {rng.randrange(100_000) / 1000} {t}")
        for i in range(STATSD_NAMES):
            s.append(f"{t} api.e{i}.latency:{rng.randrange(1, 1000)}|ms")
            s.append(f"{t} api.e{i}.hits:{rng.randrange(1, 10)}|c|@0.5")
    return g, s


class ProgressLog:
    """Collects StreamingQueryListener events. Query k started maps to
    the k-th pipeline call the workload made, since calls run one at a
    time and the listener bus keeps their order."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log.lock:
                    log.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log.lock:
                    log.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.lock:
                    log.terminated += 1

        self.lock = threading.Lock()
        self.started: list[str] = []
        self.progress: list[dict] = []
        self.terminated = 0
        self.listener = _L()

    def wait_terminated(self, n: int, timeout: float = 20.0) -> None:
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self.lock:
                if self.terminated >= n:
                    return
            time.sleep(0.05)


class IngestWorkload:
    name = "ingest"

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.k = 0  # operations dropped so far, warm-up included
        # timed operations: (write ms, read ms, points, cpu ms)
        self.done: list[tuple[float, float, int, float]] = []
        self.failed = 0
        self.errors = 0  # timed operations that raised
        # (op index, pipeline, timed) in call order
        self.calls: list[tuple[int, str, bool]] = []
        self.last_read = ""
        self.layer: dict[str, list[float]] = {}
        self.warmup_ops = 0
        for d in ("g_in", "s_in", "stage"):
            (work / d).mkdir(parents=True, exist_ok=True)
        self.progress = ProgressLog() if tracer.on else None
        if self.progress:
            spark.streams.addListener(self.progress.listener)

    def _p(self, name: str) -> str:
        return str(self.work / name)

    def build(self) -> None:
        pass

    def warmup(self) -> None:
        self.tracer.group("perfbench.warmup")
        for _ in range(WARMUP_OPS):
            self._drop()
            self._write(False)
            self._read()
            self.warmup_ops += 1

    def _drop(self) -> int:
        g, s = drop_lines(self.seed, self.k)
        for d, lines in (("g_in", g), ("s_in", s)):
            staged = self.work / "stage" / f"{d}_{self.k:05d}.txt"
            staged.write_text("\n".join(lines) + "\n")
            # the rename is the drop: the source never sees a partial file
            os.replace(staged, self.work / d / staged.name)
        self.k += 1
        return len(g) + len(s)

    def _write(self, timed: bool) -> None:
        from tgres_spark.streaming import ingest

        p = self._p
        for label, fn, args in (
            ("graphite", ingest.run_file_pipeline, ("g_in", "g_out", "g_ck")),
            ("counters", ingest.run_statsd_file_pipeline, ("s_in", "c_out", "c_ck")),
            ("timers", ingest.run_statsd_timers_pipeline, ("s_in", "t_out", "t_ck")),
        ):
            self.calls.append((self.k - 1, label, timed))
            fn(self.spark, *(p(a) for a in args), STEP, WATERMARK)

    def _read(self) -> str:
        from tgres_spark import render

        sink = self.spark.read.schema(SINK_SCHEMA).parquet(self._p("g_out"))
        return render.render_json(sink, [READ_TARGET])

    def _op(self, meter: Meter) -> None:
        """One drop, three pipelines, one read. The write and the read
        are timed separately; the CPU time covers both."""
        n = self._drop()
        group = self.tracer.group
        try:
            group("ingest.write")
            _, w, wc = meter.time(self._write, True)
            group("ingest.read")
            out, r, rc = meter.time(self._read)
        except Exception as ex:  # noqa: BLE001 - counted, run goes on
            self.errors += 1
            self.failed += 1
            self.tracer.note(f"op {self.k - 1} failed: {ex!r}")
            return
        self.done.append((w * 1e3, r * 1e3, n, (wc + rc) * 1e3))
        self.last_read = out
        if self.tracer.on:
            self._decompose_read(r, out)

    def run(self, seconds: float) -> None:
        """Closed loop over a fixed number of operations, so every run
        times the same operations against the same sink sizes."""
        meter = Meter()
        for _ in range(planned_ops(seconds, OPS_PER_S)):
            self._op(meter)
        self.timed_s = sum(w + r for w, r, _, _ in self.done) / 1e3

    def _decompose_read(self, total_s: float, out: str) -> None:
        """Traced operations: layer samples of the read."""
        from tgres_spark import render

        def build():
            sink = self.spark.read.schema(SINK_SCHEMA).parquet(self._p("g_out"))
            return render.render_df(sink, [READ_TARGET])

        self.tracer.group("perfbench.layer")
        split_request(self.layer, READ_TARGET, build, total_s, out)

    # -- results --------------------------------------------------------
    def _col(self, i: int) -> list[float]:
        return [op[i] for op in self.done]

    def ops(self) -> int:
        return len(self.done)

    def series_ms(self) -> list[float]:
        return self._col(0)

    def metrics(self) -> dict[str, float]:
        w, r = self._col(0), self._col(1)
        return {
            "cpu_ms_per_op": sum(self._col(3)) / len(w),
            "p50_ms": statistics.median(w),
            "p90_ms": quantile(w, 0.9),
            "rate_per_s": sum(self._col(2)) / self.timed_s,
            "read_p50_ms": statistics.median(r),
        }

    def named(self, m: dict[str, float]) -> dict[str, tuple[float, str]]:
        return {
            "ingest_pts_per_s": (m["rate_per_s"], "pts/s"),
            "ingest_batch_p50_ms": (m["p50_ms"], "ms"),
            "ingest_read_p50_ms": (m["read_p50_ms"], "ms"),
        }

    def per_kind(self) -> dict[str, dict[str, float]]:
        w, r = self._col(0), self._col(1)
        return {
            "write": {"n": len(w), "p50_ms": statistics.median(w)},
            "read": {"n": len(r), "p50_ms": statistics.median(r)},
        }

    def run_labels(self) -> dict[str, str]:
        """Streaming run id -> pipeline label, for timed operations only
        (streaming jobs carry their run id as job group)."""
        self.progress.wait_terminated(len(self.calls))
        out = {}
        for run_id, (_, label, timed) in zip(self.progress.started, self.calls):
            if timed:
                out[run_id] = label
        return out

    def layers(self) -> dict[str, float]:
        labels = self.run_labels()
        ops = max(1, self.ops())
        op_of = {run_id: k for run_id, (k, _, _) in zip(self.progress.started, self.calls)}
        per_op: dict[int, dict[str, float]] = {}
        batches = empty = 0
        last_state: dict[str, dict] = {}
        for p in self.progress.progress:
            if p["runId"] not in labels:
                continue
            batches += 1
            empty += p.get("numInputRows", 0) == 0
            d = per_op.setdefault(op_of[p["runId"]], {})
            for phase, ms in p.get("durationMs", {}).items():
                d[phase] = d.get(phase, 0.0) + ms
            last_state[labels[p["runId"]]] = p
        phase = lambda ph: statistics.median(d.get(ph, 0.0) for d in per_op.values()) if per_op else 0.0  # noqa: E731
        state_ops = [s for p in last_state.values() for s in p.get("stateOperators", [])]
        return {
            **request_layers(self.layer),
            **self._parse_layers(),
            "streaming.batches_per_op": batches / ops,
            "streaming.empty_batches_per_op": empty / ops,
            "streaming.add_batch_ms": phase("addBatch"),
            "streaming.wal_commit_ms": phase("walCommit"),
            "streaming.commit_offsets_ms": phase("commitOffsets"),
            "streaming.query_planning_ms": phase("queryPlanning"),
            "streaming.state_rows": float(sum(s.get("numRowsTotal", 0) for s in state_ops)),
            "streaming.state_mem_mb": sum(s.get("memoryUsedBytes", 0) for s in state_ops) / 2**20,
            "streaming.state_partitions": float(
                max((s.get("numShufflePartitions", 0) for s in state_ops), default=0)
            ),
            "streaming.sink_files": float(sum(
                1 for d in ("g_out", "c_out", "t_out")
                for _ in (self.work / d).glob("*.parquet")
            )),
        }

    def _parse_layers(self) -> dict[str, float]:
        """Batch parse of the last dropped files, written to the noop
        sink: the sources layer without the streaming machinery."""
        from pyspark.sql import functions as F

        from tgres_spark.sources.graphite import parse_graphite_lines
        from tgres_spark.sources.statsd import parse_statsd_packets

        self.tracer.group("perfbench.layer")
        name = f"{self.k - 1:05d}.txt"

        def graphite():
            lines = self.spark.read.text(self._p(f"g_in/g_in_{name}"))
            return parse_graphite_lines(lines.withColumnRenamed("value", "line"))

        def statsd():
            raw = self.spark.read.text(self._p(f"s_in/s_in_{name}"))
            parts = F.split(F.col("value"), " ", 2)
            pk = raw.select(
                F.element_at(parts, 1).try_cast("bigint").alias("t"),
                F.element_at(parts, 2).alias("packet"),
            )
            return parse_statsd_packets(pk)

        out = {}
        for key, make in (("sources.graphite_parse_ms", graphite),
                          ("sources.statsd_parse_ms", statsd)):
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                make().write.format("noop").mode("overwrite").save()
                times.append((time.perf_counter() - t0) * 1e3)
            out[key] = statistics.median(times)
        return out

    def timed_groups(self) -> list[str]:
        return ["ingest.write", "ingest.read"]

    def read_groups(self) -> list[str]:
        return ["ingest.read"]

    reads = ops

    def group_labels(self) -> dict[str, str]:
        return self.run_labels() if self.progress else {}

    # -- output checks (after the timed phase, Spark stopped) -----------
    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        w = self.work
        con.execute(
            f"CREATE VIEW g_lines AS SELECT * FROM read_csv('{w}/g_in/*.txt', "
            "delim=' ', header=false, columns={'name': 'VARCHAR', "
            "'value': 'DOUBLE', 't': 'BIGINT'})"
        )
        con.execute(
            f"CREATE VIEW s_lines AS SELECT t, split_part(p, ':', 1) AS name, "
            "CAST(split_part(split_part(p, ':', 2), '|', 1) AS DOUBLE) AS v, "
            "split_part(split_part(p, ':', 2), '|', 2) AS kind, "
            "COALESCE(TRY_CAST(substr(split_part(split_part(p, ':', 2), '|', 3), 2) "
            "AS DOUBLE), 1.0) AS sample "
            f"FROM read_csv('{w}/s_in/*.txt', delim=' ', header=false, "
            "columns={'t': 'BIGINT', 'p': 'VARCHAR'})"
        )
        slot = f"((t - 1) // {STEP}) * {STEP} + {STEP}"
        # append mode emits a slot once the watermark (newest event time
        # minus the delay) has passed its end
        last_end = T0 + STEP * self.k - 2 - WATERMARK
        expected = {
            "g_out": (
                f"SELECT name, {slot} AS t, CAST(SUM(CAST(FLOOR(value * 1000000.0 "
                "+ 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*) AS value "
                "FROM g_lines GROUP BY ALL"
            ),
            "c_out": (
                f"SELECT 'stats.' || name AS name, {slot} AS t, "
                f"SUM(v / sample) / {STEP}.0 AS value FROM s_lines "
                "WHERE kind = 'c' GROUP BY ALL"
            ),
            "t_out": (
                "SELECT 'stats.timers.' || name || '.' || s AS name, t, value FROM ("
                f"SELECT name, {slot} AS t, COUNT(*)::DOUBLE AS count, MIN(v) AS lower, "
                "MAX(v) AS upper, SUM(v) AS sum, SUM(v) / COUNT(*) AS mean "
                "FROM s_lines WHERE kind = 'ms' GROUP BY ALL) "
                "UNPIVOT (value FOR s IN (count, lower, upper, sum, mean))"
            ),
        }
        problems = []
        for sink, sql in expected.items():
            got = con.execute(
                f"SELECT name, t, value FROM '{w}/{sink}/*.parquet'"
            ).fetchall()
            want = {
                (n, t): v for n, t, v in con.execute(
                    f"SELECT * FROM ({sql}) WHERE t <= {last_end}"
                ).fetchall()
            }
            if sink == "t_out":
                # the sink also carries the 90th-percentile stats
                got = [r for r in got if r[0].rsplit(".", 1)[1] in
                       ("count", "lower", "upper", "sum", "mean")]
            have = {(n, t): v for n, t, v in got}
            if len(have) != len(got) or have.keys() != want.keys() or any(
                abs(have[k] - v) > 1e-9 * max(1.0, abs(v)) for k, v in want.items()
            ):
                problems.append(
                    f"{sink}: {len(got)} rows vs {len(want)} expected from the "
                    "dropped lines"
                )
        # the last read saw the final sink
        rows = con.execute(
            "SELECT CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS "
            "DOUBLE) / 1000000.0 AS v, t FROM "
            f"'{w}/g_out/*.parquet' WHERE regexp_full_match(name, "
            r"'ingest\.h[^.]*\.cpu\.user') GROUP BY t ORDER BY t"
        ).fetchall()
        got = json.loads(self.last_read) if self.last_read else []
        pts = got[0]["datapoints"] if len(got) == 1 else []
        if [t for _, t in pts] != [t for _, t in rows] or any(
            abs(a[0] - b[0]) > 1e-9 * max(1.0, abs(b[0])) for a, b in zip(pts, rows)
        ):
            problems.append("last read differs from DuckDB over the sink")
        self.failed += len(problems)
        return problems
