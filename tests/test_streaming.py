"""Streaming ingest = batch semantics on the same data (SURVEY §5.4)."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from tgres_spark.operators.consolidate import consolidate
from tgres_spark.sources.graphite import parse_graphite_lines
from tgres_spark.streaming import CHECKPOINT_FILE_MANAGER_CONF
from tgres_spark.streaming.ingest import run_file_pipeline


def test_file_pipeline_matches_batch(spark, tmp_path):
    in_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    in_dir.mkdir()
    lines = []
    for name in ("web.a", "web.b"):
        for i in range(50):
            lines.append(f"{name} {i * 1.5:.1f} {1000 + i * 10}")
    lines.append("malformed junk")
    (in_dir / "drop1.txt").write_text("\n".join(lines[:40]) + "\n")
    # sentinel far in the future: pushes the watermark past every real
    # slot so append mode flushes them (its own slot stays buffered)
    (in_dir / "drop2.txt").write_text("\n".join(lines[40:]) + "\nzz.sentinel 0.0 99999\n")

    run_file_pipeline(
        spark, str(in_dir), str(out_dir), str(ckpt), step_s=60, watermark_s=10
    )
    got = spark.read.parquet(str(out_dir)).where(~F.col("name").contains("sentinel"))
    assert got.columns == ["name", "t", "value"]

    # batch reference: same parse + avg consolidation at 60s
    batch_lines = spark.createDataFrame([(x,) for x in lines], "line string")
    parsed = parse_graphite_lines(batch_lines)
    expect = consolidate(parsed, 60, cf="avg")
    g = {(r["name"], r["t"]): round(r["value"], 9) for r in got.collect()}
    e = {(r["name"], r["t"]): round(r["value"], 9) for r in expect.collect()}
    assert g == e


def test_streaming_is_incremental(spark, tmp_path):
    # second run with a new file only appends new slots (checkpointed)
    in_dir = tmp_path / "in2"
    out_dir = tmp_path / "out2"
    ckpt = tmp_path / "ckpt2"
    in_dir.mkdir()
    # sentinels advance the watermark just past each run's own slots —
    # a far-future sentinel would mark later runs' data as late/dropped
    (in_dir / "a.txt").write_text("m.one 1.0 1000\nm.one 3.0 1010\nzz.s 0.0 2000\n")
    run_file_pipeline(spark, str(in_dir), str(out_dir), str(ckpt), step_s=60, watermark_s=10)
    n1 = spark.read.parquet(str(out_dir)).count()
    (in_dir / "b.txt").write_text("m.one 5.0 5000\nzz.s 0.0 6000\n")
    run_file_pipeline(spark, str(in_dir), str(out_dir), str(ckpt), step_s=60, watermark_s=10)
    df = spark.read.parquet(str(out_dir))
    assert df.count() > n1
    vals = {r["t"]: r["value"] for r in df.where(F.col("name") == "m.one").collect()}
    assert vals[1020] == 2.0  # (1+3)/2 — first batch slot unchanged
    assert vals[5040] == 5.0  # new slot from second file
    assert os.path.isdir(str(ckpt))


def test_statsd_stream_matches_batch_counters(spark, tmp_path):
    from tgres_spark.aggregator import statsd_flush
    from tgres_spark.sources.statsd import parse_statsd_packets
    from tgres_spark.streaming.ingest import run_statsd_file_pipeline

    in_dir = tmp_path / "sin"
    in_dir.mkdir()
    lines = [
        "10 c1:1|c", "20 c1:5|c|@0.5", "70 c1:60|c", "95 c2:2|c",
        "100 bad packet", "200 zz:0|c",  # sentinel advances watermark past slot 120
    ]
    (in_dir / "p.txt").write_text("\n".join(lines) + "\n")
    run_statsd_file_pipeline(
        spark, str(in_dir), str(tmp_path / "sout"), str(tmp_path / "sck"),
        flush_s=60, watermark_s=10,
    )
    got = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(str(tmp_path / "sout")).collect()
        if "zz" not in r["name"]
    }
    pk = spark.createDataFrame(
        [(int(x.split(" ", 1)[0]), x.split(" ", 1)[1]) for x in lines],
        "t long, packet string",
    )
    batch = statsd_flush(parse_statsd_packets(pk), 60)
    expect = {
        (r["name"], r["t"]): r["value"]
        for r in batch.collect()
        if r["name"].startswith("stats.c")
    }
    assert got == expect


def test_statsd_stream_counters_sum_micro6_like_batch(spark, tmp_path):
    """0.1 + 0.2 + 0.3 in one slot: a plain double sum gives
    0.6000000000000001, the micro6 sum exactly 0.6. The stream runs the
    batch counter flush, so the two agree with no rounding."""
    from tgres_spark.aggregator import statsd_flush
    from tgres_spark.sources.statsd import parse_statsd_packets
    from tgres_spark.streaming.ingest import run_statsd_file_pipeline

    in_dir = tmp_path / "xin"
    in_dir.mkdir()
    lines = ["10 c1:0.1|c", "20 c1:0.2|c", "30 c1:0.3|c", "200 zz:0|c"]
    (in_dir / "p.txt").write_text("\n".join(lines) + "\n")
    run_statsd_file_pipeline(
        spark, str(in_dir), str(tmp_path / "xout"), str(tmp_path / "xck"),
        flush_s=60, watermark_s=10,
    )
    got = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(str(tmp_path / "xout")).collect()
        if "zz" not in r["name"]
    }
    pk = spark.createDataFrame(
        [(int(x.split(" ", 1)[0]), x.split(" ", 1)[1]) for x in lines],
        "t long, packet string",
    )
    expect = {
        (r["name"], r["t"]): r["value"]
        for r in statsd_flush(parse_statsd_packets(pk), 60).collect()
        if r["name"] == "stats.c1"
    }
    assert got == expect == {("stats.c1", 60): 0.01}


def test_paced_metrics_stream_matches_batch_sum(spark, tmp_path):
    """Stateful paced 'sum' == batch paced_metrics 'sum' on the same
    lines, minus the open head window (held in state; emission is
    event-time driven, so a per-series sentinel in a LATER window
    flushes each real window deterministically)."""
    from tgres_spark.aggregator import paced_metrics
    from tgres_spark.streaming.paced import run_paced_file_pipeline

    in_dir = tmp_path / "pin"
    in_dir.mkdir()
    lines = []
    for name in ("svc.a", "svc.b"):
        for i in range(30):
            lines.append(f"{name} {(i % 7) * 1.0:.1f} {1000 + i * 25}")
    (in_dir / "p1.txt").write_text("\n".join(lines[:35]) + "\n")
    (in_dir / "p2.txt").write_text(
        "\n".join(lines[35:])
        + "\nsvc.a 0.0 99999\nsvc.b 0.0 99999\n"  # sentinels roll every window
    )
    run_paced_file_pipeline(
        spark, str(in_dir), str(tmp_path / "pout"), str(tmp_path / "pck"),
        pace_s=300, kind="sum",
    )
    got = {
        (r["name"], r["t"]): round(r["value"], 9)
        for r in spark.read.parquet(str(tmp_path / "pout")).collect()
        if r["t"] < 99000  # sentinel's own open window never emits
    }
    from tgres_spark.sources.graphite import parse_graphite_lines

    batch_lines = spark.createDataFrame([(x,) for x in lines], "line string")
    expect = {
        (r["name"], r["t"]): round(r["value"], 9)
        for r in paced_metrics(
            parse_graphite_lines(batch_lines), 300, "sum"
        ).collect()
    }
    assert got == expect


def test_paced_gauge_clock_weighting_survives_flush(spark, tmp_path):
    """ClockPdp semantics: values weighted by inter-arrival duration;
    the duration chain crosses window boundaries (gauge state 'lives
    on', pacedmetric.go:59)."""
    from tgres_spark.streaming.paced import run_paced_file_pipeline

    in_dir = tmp_path / "gin"
    in_dir.mkdir()
    # window (0,60]: v=2 over (10,30] (dur 20), v=6 over (30,50] (dur 20)
    #   → (2*20+6*20)/40 = 4.0  [value recorded at arrival t carries back]
    # window (60,120]: v=10 over (50,70] — dur chain crosses the boundary
    #   → 10.0; sentinel at 300 flushes it
    lines = ["g.x 7.0 10", "g.x 2.0 30", "g.x 6.0 50", "g.x 10.0 70", "g.x 0.0 300"]
    (in_dir / "g.txt").write_text("\n".join(lines) + "\n")
    run_paced_file_pipeline(
        spark, str(in_dir), str(tmp_path / "gout"), str(tmp_path / "gck"),
        pace_s=60, kind="gauge",
    )
    got = {r["t"]: r["value"] for r in spark.read.parquet(str(tmp_path / "gout")).collect()}
    assert got[60] == 4.0
    assert got[120] == 10.0


def test_paced_state_survives_checkpoint_restart(spark, tmp_path):
    """A pace window OPEN at the end of run 1 must absorb run 2's
    points and emit ONE merged sum — proves applyInPandasWithState
    state recovers from the checkpoint across separate queries."""
    from tgres_spark.streaming.paced import run_paced_file_pipeline

    in_dir = tmp_path / "rin"
    in_dir.mkdir()
    # window (0,300] gets 2.0 in run 1 and 3.0 in run 2; run 2's
    # sentinel at t=1000 rolls the window → emit 5.0 once
    (in_dir / "r1.txt").write_text("s.x 2.0 100\n")
    run_paced_file_pipeline(
        spark, str(in_dir), str(tmp_path / "rout"), str(tmp_path / "rck"),
        pace_s=300, kind="sum",
    )
    assert spark.read.parquet(str(tmp_path / "rout")).count() == 0  # still open
    (in_dir / "r2.txt").write_text("s.x 3.0 200\ns.x 0.0 1000\n")
    run_paced_file_pipeline(
        spark, str(in_dir), str(tmp_path / "rout"), str(tmp_path / "rck"),
        pace_s=300, kind="sum",
    )
    got = [
        (r["name"], r["t"], r["value"])
        for r in spark.read.parquet(str(tmp_path / "rout")).collect()
    ]
    assert got == [("s.x", 300, 5.0)]


def test_paced_pipeline_on_rocksdb_state_store(spark, tmp_path):
    """The stateful paced operator must run unchanged on the RocksDB
    state store (the provider a 100 TB deployment uses — state spills
    to disk instead of living on the JVM heap)."""
    from tgres_spark.streaming.paced import run_paced_file_pipeline

    in_dir = tmp_path / "rkin"
    in_dir.mkdir()
    (in_dir / "a.txt").write_text(
        "r.x 1.0 100\nr.x 2.0 200\nr.x 4.0 400\nr.x 0.0 9999\n"
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_paced_file_pipeline(
            spark, str(in_dir), str(tmp_path / "rkout"), str(tmp_path / "rkck"),
            pace_s=300, kind="sum",
        )
        got = {
            (r["name"], r["t"]): r["value"]
            for r in spark.read.parquet(str(tmp_path / "rkout")).collect()
        }
        assert got == {("r.x", 300): 3.0, ("r.x", 600): 4.0}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_statsd_timers_stream_matches_batch(spark, tmp_path):
    """Streaming timer stats == batch statsd_flush timer rows on the
    same packets (shared stat projection; append mode emits complete
    windows only, so sorted-list percentiles are exact)."""
    from tgres_spark.aggregator import statsd_flush
    from tgres_spark.sources.statsd import parse_statsd_packets
    from tgres_spark.streaming.ingest import run_statsd_timers_pipeline

    in_dir = tmp_path / "tin"
    in_dir.mkdir()
    lines = [f"{10 + i * 4} tm:{v}|ms" for i, v in enumerate(
        [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0, 100.0]
    )] + ["70 t2:5|ms", "200 zz:0|ms"]  # sentinel rolls the watermark
    (in_dir / "t.txt").write_text("\n".join(lines) + "\n")
    run_statsd_timers_pipeline(
        spark, str(in_dir), str(tmp_path / "tout"), str(tmp_path / "tck"),
        flush_s=60, watermark_s=10,
    )
    got = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(str(tmp_path / "tout")).collect()
        if ".zz." not in r["name"]
    }
    pk = spark.createDataFrame(
        [(int(x.split(" ", 1)[0]), x.split(" ", 1)[1]) for x in lines],
        "t long, packet string",
    )
    batch = statsd_flush(parse_statsd_packets(pk), 60)
    expect = {
        (r["name"], r["t"]): r["value"]
        for r in batch.collect()
        if r["name"].startswith("stats.timers.t") and ".zz." not in r["name"]
    }
    assert got == expect


def test_paced_rocksdb_multibatch_soak_with_restart(spark, tmp_path):
    """Soak: >=6 micro-batches on the RocksDB state store (one file
    per trigger), a process-boundary 'kill' between runs, and a
    restart that resumes from the checkpoint — the union of all
    flushed windows must equal the batch paced_metrics result on the
    same lines, bit-for-bit. This is the full 100 TB deployment shape
    compressed: rate-limited triggers, disk-backed state, recovery."""
    from tgres_spark.aggregator import paced_metrics
    from tgres_spark.sources.graphite import parse_graphite_lines
    from tgres_spark.streaming.paced import run_paced_file_pipeline

    in_dir = tmp_path / "soakin"
    in_dir.mkdir()
    lines = []
    for name in ("soak.a", "soak.b", "soak.c"):
        for i in range(40):
            lines.append(f"{name} {((i * 13) % 11) * 0.5:.1f} {500 + i * 45}")
    # 8 drop files -> 8 triggers at maxFilesPerTrigger=1; run 1 gets 4.
    # Chunks are CONTIGUOUS slices: the paced operator (like the
    # reference receiver) drops points older than a flushed window, so
    # the soak must deliver each series in event-time order.
    chunks = [lines[i * 15:(i + 1) * 15] for i in range(8)]
    # pin strictly increasing mtimes: the file source orders triggers
    # by (modification time, path); same-tick writes make the order —
    # and therefore which points count as late — nondeterministic
    import os as _os

    def _drop(fname, text, stamp):
        f = in_dir / fname
        f.write_text(text)
        _os.utime(f, (stamp, stamp))

    for i, ch in enumerate(chunks[:4]):
        _drop(f"f{i}.txt", "\n".join(ch) + "\n", 1_700_000_000 + i)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_paced_file_pipeline(
            spark, str(in_dir), str(tmp_path / "soakout"),
            str(tmp_path / "soakck"), pace_s=300, kind="sum",
            max_files_per_trigger=1,
        )
        # 'kill': the first query has terminated; drop the rest of the
        # stream plus per-series sentinels and restart from checkpoint
        for i, ch in enumerate(chunks[4:]):
            _drop(f"g{i}.txt", "\n".join(ch) + "\n", 1_700_000_100 + i)
        _drop(
            "zz_sentinel.txt",
            "soak.a 0.0 99999\nsoak.b 0.0 99999\nsoak.c 0.0 99999\n",
            1_700_000_200,
        )
        run_paced_file_pipeline(
            spark, str(in_dir), str(tmp_path / "soakout"),
            str(tmp_path / "soakck"), pace_s=300, kind="sum",
            max_files_per_trigger=1,
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    got = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(str(tmp_path / "soakout")).collect()
        if r["t"] < 99000
    }
    batch_lines = spark.createDataFrame([(x,) for x in lines], "line string")
    expect = {
        (r["name"], r["t"]): r["value"]
        for r in paced_metrics(parse_graphite_lines(batch_lines), 300, "sum").collect()
    }
    assert got == expect
    assert len(got) >= 10  # real coverage, not a trivial window


def test_name_catalog_create_on_first_write(spark, tmp_path):
    """dscache semantics (receiver/dscache.go getByNameOrLoadOrCreate):
    a name's catalog entry is created by its first-ever point and
    first_seen never moves afterwards — even when a later batch
    carries an EARLIER timestamp — while last_seen/n_points advance.
    Runs as two separate streaming queries over one checkpoint with
    one file per trigger, so the fold crosses micro-batches AND a
    process boundary."""
    from tgres_spark.dsl.find import find
    from tgres_spark.streaming.catalog import read_catalog, run_catalog_pipeline

    in_dir = tmp_path / "cin"
    in_dir.mkdir()
    (in_dir / "a.txt").write_text("web.srv1.cpu 1.0 1000\nweb.srv1.cpu 2.0 1060\n")
    os.utime(in_dir / "a.txt", (1_700_000_000, 1_700_000_000))
    (in_dir / "b.txt").write_text("web.srv2.cpu 5.0 1200\n")
    os.utime(in_dir / "b.txt", (1_700_000_001, 1_700_000_001))

    cat_dir = str(tmp_path / "cat")
    ck = str(tmp_path / "cck")
    run_catalog_pipeline(spark, str(in_dir), cat_dir, ck, max_files_per_trigger=1)
    got1 = {r["name"]: r for r in read_catalog(spark, cat_dir).collect()}
    assert got1["web.srv1.cpu"]["first_seen"] == 1000
    assert got1["web.srv1.cpu"]["n_points"] == 2
    assert got1["web.srv2.cpu"]["first_seen"] == 1200

    # run 2: late point for srv1 (t=500 < first_seen) + a new name
    (in_dir / "c.txt").write_text("web.srv1.cpu 9.0 500\ndb.main.io 1.0 2000\n")
    os.utime(in_dir / "c.txt", (1_700_000_002, 1_700_000_002))
    run_catalog_pipeline(spark, str(in_dir), cat_dir, ck, max_files_per_trigger=1)
    got2 = {r["name"]: r for r in read_catalog(spark, cat_dir).collect()}
    assert got2["web.srv1.cpu"]["first_seen"] == 1000  # create wins, late point doesn't rewind
    assert got2["web.srv1.cpu"]["n_points"] == 3
    assert got2["web.srv1.cpu"]["last_seen"] == 1060
    assert got2["db.main.io"]["n_points"] == 1
    assert len(got2) == 3

    # the live catalog serves find() exactly like a batch-derived one
    paths = {
        (r["path"], r["is_leaf"])
        for r in find(read_catalog(spark, cat_dir), "web.*").collect()
    }
    assert paths == {("web.srv1", 0), ("web.srv2", 0)}

    # snapshot retention: 3 batches ran, only the newest 2 versions
    # survive, and every published manifest targets an existing
    # snapshot (write-once manifest protocol — no _LATEST rename)
    import json
    import os as _os

    versions = sorted(
        d for d in _os.listdir(cat_dir)
        if d.startswith("v") and _os.path.isdir(_os.path.join(cat_dir, d))
    )
    assert len(versions) == 2
    # ignore Hadoop LocalFileSystem .crc sidecars (absent on hdfs/s3a)
    manifests = sorted(
        m for m in _os.listdir(_os.path.join(cat_dir, "manifest"))
        if m.startswith("v")
    )
    assert len(manifests) == 2
    for m in manifests:
        with open(_os.path.join(cat_dir, "manifest", m)) as f:
            assert json.load(f)["snapshot"] in versions
    assert manifests[-1] == versions[-1]


def test_statsd_gauges_stream_matches_batch(spark, tmp_path):
    """Streaming gauge windows (last set value, tie → max, plus delta
    adjustments) must equal the batch _flush_gauges on the same
    packets, including a delta-only window (base 0)."""
    from tgres_spark.aggregator import statsd_flush
    from tgres_spark.sources.statsd import parse_statsd_packets
    from tgres_spark.streaming.ingest import run_statsd_gauges_pipeline

    in_dir = tmp_path / "gsin"
    in_dir.mkdir()
    lines = [
        "10 g1:5.0|g", "20 g1:7.5|g", "20 g1:2.5|g",  # tie at t=20 -> 7.5
        "30 g1:+1.25|g", "40 g1:-0.75|g",             # deltas on base 7.5
        "70 g2:+3.0|g",                               # delta-only window
        "95 g1:9.0|g",
        "300 zz:0|g",                                  # watermark sentinel
    ]
    (in_dir / "p.txt").write_text("\n".join(lines) + "\n")
    run_statsd_gauges_pipeline(
        spark, str(in_dir), str(tmp_path / "gsout"), str(tmp_path / "gsck"),
        flush_s=60, watermark_s=10,
    )
    got = {
        (r["name"], r["t"]): r["value"]
        for r in spark.read.parquet(str(tmp_path / "gsout")).collect()
        if "zz" not in r["name"]
    }
    pk = spark.createDataFrame(
        [(int(x.split(" ", 1)[0]), x.split(" ", 1)[1]) for x in lines],
        "t long, packet string",
    )
    expect = {
        (r["name"], r["t"]): r["value"]
        for r in statsd_flush(parse_statsd_packets(pk), 60).collect()
        if r["name"].startswith("stats.gauges") and "zz" not in r["name"]
    }
    assert got == expect
    assert got[("stats.gauges.g1", 60)] == 8.0   # 7.5 + 1.25 - 0.75
    assert got[("stats.gauges.g2", 120)] == 3.0  # delta-only base 0


def test_catalog_merge_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch replay (crash after the pointer swap, before the
    checkpoint commit) must fold against its ORIGINAL base — n_points
    must not double-count the replayed batch."""
    from tgres_spark.streaming.catalog import merge_catalog_batch, read_catalog

    cat = str(tmp_path / "rcat")
    os.makedirs(cat)
    b0 = spark.createDataFrame(
        [("a.x", 100, 1.0), ("a.x", 160, 2.0)], "name string, t long, value double"
    )
    b1 = spark.createDataFrame(
        [("a.x", 220, 3.0), ("b.y", 230, 4.0)], "name string, t long, value double"
    )
    merge_catalog_batch(b0, 0, cat)
    merge_catalog_batch(b1, 1, cat)
    first = {r["name"]: (r["n_points"], r["first_seen"], r["last_seen"])
             for r in read_catalog(spark, cat).collect()}
    merge_catalog_batch(b1, 1, cat)  # replay
    again = {r["name"]: (r["n_points"], r["first_seen"], r["last_seen"])
             for r in read_catalog(spark, cat).collect()}
    assert first == again == {"a.x": (3, 100, 220), "b.y": (1, 230, 230)}


def test_streaming_dedup_resume_matches_batch(spark, tmp_path):
    """Exact dedup as stateful streaming: feed half the corpus, stop,
    feed the rest under the SAME checkpoint — the resumed state must
    merge to exactly the batch dedup_exact() over everything."""
    from tgres_spark.pipeline.dedup import dedup_exact
    from tgres_spark.streaming.dedup import run_dedup_stream

    rows = [
        (i, f"doc body {i % 7}", "en", "s", 10) for i in range(40)
    ]  # 7 distinct texts, duplicated across both halves
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(rows, schema)
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(
        tmp_path / "ck"
    )
    first = docs.where(F.col("doc_id") < 20)
    rest = docs.where(F.col("doc_id") >= 20)
    first.coalesce(2).write.mode("append").parquet(in_dir)
    run_dedup_stream(spark, in_dir, out_dir, ckpt, docs.schema)
    mid = {
        r["h"]: (r["n_dups"], r["keeper_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # after half the corpus the state must equal batch-over-half
    want_mid = {
        r["h"]: (r["n_dups"], r["keeper_id"]) for r in dedup_exact(first).collect()
    }
    assert mid == want_mid
    rest.coalesce(2).write.mode("append").parquet(in_dir)
    run_dedup_stream(spark, in_dir, out_dir, ckpt, docs.schema)
    got = {
        r["h"]: (r["n_dups"], r["keeper_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["h"]: (r["n_dups"], r["keeper_id"]) for r in dedup_exact(docs).collect()
    }
    assert got == want


def test_streaming_sessionize_merges_across_batches(spark, tmp_path):
    """Session-window state must MERGE intervals across micro-batches:
    a second (time-ordered) file drop extends a session begun in the
    first run, and the extended session emits once — with the merged
    span — when the watermark finally passes it."""
    from tgres_spark.streaming.sessionize import run_sessionize_stream

    schema = "user_id bigint, t bigint"
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    # batch 1: user 1 events at 1000, 2000 (one open session)
    b1 = spark.createDataFrame([(1, 1000), (1, 2000)], schema)
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    run_sessionize_stream(spark, in_dir, out_dir, ckpt, b1.schema)
    assert spark.read.parquet(out_dir).count() == 0  # still open

    # batch 2: 3500 extends it (gap 1500 <= 1800); 9000 starts a new
    # session; 20000 pushes the watermark past both closed sessions
    b2 = spark.createDataFrame([(1, 3500), (1, 9000), (2, 20000)], schema)
    b2.coalesce(1).write.mode("append").parquet(in_dir)
    run_sessionize_stream(spark, in_dir, out_dir, ckpt, b1.schema)
    got = {
        (r.user_id, r.session_start): (r.n_events, r.duration_s)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {(1, 1000): (3, 2500), (1, 9000): (1, 0)}


def test_streaming_sessionize_gap_boundary_matches_batch(spark, tmp_path):
    """delta == 1800 stays in-session (the batch operator's > rule),
    delta == 1801 breaks — pinned so a session_window semantics change
    in a future Spark can't silently shift the merge rule."""
    from tgres_spark.streaming.sessionize import run_sessionize_stream

    schema = "user_id bigint, t bigint"
    rows = [(1, 1000), (1, 2800), (2, 5000), (2, 6801), (3, 100000)]
    df = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.mode("overwrite").parquet(in_dir)
    run_sessionize_stream(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"), df.schema
    )
    got = {
        (r.user_id, r.session_start): (r.n_events, r.duration_s)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {
        (1, 1000): (2, 1800),   # merged at exactly the gap
        (2, 5000): (1, 0),      # 1801 broke the session
        (2, 6801): (1, 0),
    }


def test_streaming_anomaly_state_carries_across_batches(spark, tmp_path):
    """Split a series in time across two file drops under one
    checkpoint: the second run must score its points against state
    carried from the first (the last-24 window spans the boundary),
    matching the batch window operator over the full series."""
    from tgres_spark.operators.dsl_calculate import anomaly_zscore
    from tgres_spark.streaming.anomaly import run_anomaly_stream

    rows = [("m", 100 + 10 * i, float((i * 7) % 30)) for i in range(60)]
    schema = "name string, t bigint, value double"
    df = spark.createDataFrame(rows, schema)
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    first = df.where(F.col("t") < 100 + 10 * 30)
    rest = df.where(F.col("t") >= 100 + 10 * 30)
    first.coalesce(1).write.mode("append").parquet(in_dir)
    run_anomaly_stream(spark, in_dir, out_dir, ckpt, df.schema, points=24, k=1.0)
    rest.coalesce(1).write.mode("append").parquet(in_dir)
    run_anomaly_stream(spark, in_dir, out_dir, ckpt, df.schema, points=24, k=1.0)
    got = {
        (r.name, r.t): (r.value, r.zscore, r.is_anomaly)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r.name, r.t): (r.value, r.zscore, r.is_anomaly)
        for r in anomaly_zscore(df, 24, 1.0).collect()
    }
    assert got == want  # bit-equal zscores incl. points 31..54 whose
    # baseline straddles the batch boundary


def test_streaming_dedup_update_mode_changelog(spark, tmp_path):
    """Update mode emits only CHANGED keys per micro-batch; the
    latest-row-per-key view of the change log must equal the batch
    dedup state, and the total emitted rows must be well under
    batches x keys (proving per-batch deltas, not rewrites)."""
    from tgres_spark.pipeline.dedup import dedup_exact
    from tgres_spark.streaming.dedup import run_dedup_stream_updates

    rows = [(i, f"body {i % 5}", "en", "s", 10) for i in range(40)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(rows, schema)
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    docs.coalesce(4).write.mode("overwrite").parquet(in_dir)
    run_dedup_stream_updates(spark, in_dir, out_dir, ckpt, docs.schema)
    log = spark.read.parquet(out_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy(F.col("batch_id").desc())
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("h", "n_dups", "keeper_id")
    )
    got = {r.h: (r.n_dups, r.keeper_id) for r in latest.collect()}
    want = {r.h: (r.n_dups, r.keeper_id) for r in dedup_exact(docs).collect()}
    assert got == want
    # 4 batches x 5 keys = 20 if it rewrote everything; update mode
    # emits every batch here (all 5 texts recur per file) but a batch
    # with no new data for a key emits nothing - assert the log is a
    # changelog, not 4 full snapshots plus initial states
    assert log.count() <= 20


def test_streaming_enrich_join_multibatch_matches_batch(spark, tmp_path):
    """STREAM⋈STATIC enrichment: two time-ordered file drops; the
    closed windows after both runs equal the batch join+agg over the
    same rows, proving the broadcast dim join adds no streaming state
    and late-window revision is fully handled by the agg watermark."""
    from tgres_spark.streaming.enrich import run_enrich_stream

    schema = "user_id bigint, t bigint, value double"
    dim = spark.createDataFrame(
        [(1, "A"), (2, "B")], "user_id bigint, segment string"
    )
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    b1 = spark.createDataFrame(
        [(1, 100, 1.5), (2, 200, 2.0), (1, 3700, 4.0)], schema
    )
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    run_enrich_stream(
        spark, in_dir, out_dir, ckpt, b1.schema, dim, step_s=3600,
        watermark_s=60,
    )
    got1 = {
        (r.segment, r.t): (r.n_events, r.total)
        for r in spark.read.parquet(out_dir).collect()
    }
    # watermark = 3700-1-60: the (0,3600] window closed
    assert got1 == {("A", 3600): (1, 1.5), ("B", 3600): (1, 2.0)}

    # batch 2 closes the second window; user 3 has no dim row -> the
    # inner join drops it but its t STILL advances the watermark
    b2 = spark.createDataFrame([(1, 7300, 8.0), (3, 11000, 9.9)], schema)
    b2.coalesce(1).write.mode("append").parquet(in_dir)
    run_enrich_stream(
        spark, in_dir, out_dir, ckpt, b1.schema, dim, step_s=3600,
        watermark_s=60,
    )
    got2 = {
        (r.segment, r.t): (r.n_events, r.total)
        for r in spark.read.parquet(out_dir).collect()
    }
    # watermark = 11000-1-60 = 10939 >= 10800: BOTH later windows
    # closed; user 3's own row joined away but its timestamp did the
    # closing — exactly the pre-join watermark placement under test
    assert got2 == {
        ("A", 3600): (1, 1.5),
        ("B", 3600): (1, 2.0),
        ("A", 7200): (1, 4.0),
        ("A", 10800): (1, 8.0),
    }


def test_streaming_oov_multibatch_matches_batch(spark, tmp_path):
    """The zero-state OOV scorer over four real micro-batches must
    equal the batch projection row-for-row (structural equivalence:
    each doc's stats depend only on its own text and the static
    one-row vocab)."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.textstats import (
        oov_score_stream,
        oov_vocab_row,
    )
    from tgres_spark.streaming.oov import run_oov_stream

    rows = [
        (i, f"aa bb w{i} w{i + 1}", "en", "s%d" % (i % 2))
        for i in range(12)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    vocab = oov_vocab_row(docs, vocab_size=2)  # {aa, bb} dominate
    scored = docs.where(F.col("doc_id") % 2 == 1)
    scored.repartition(4).write.parquet(f"{tmp_path}/in")
    run_oov_stream(
        spark, f"{tmp_path}/in", f"{tmp_path}/out", f"{tmp_path}/ckpt",
        scored.schema, vocab,
    )
    got = {
        r["doc_id"]: r for r in spark.read.parquet(f"{tmp_path}/out").collect()
    }
    want = {
        r["doc_id"]: r for r in oov_score_stream(scored, vocab).collect()
    }
    assert got.keys() == want.keys() and len(got) == 6
    for k in want:
        assert (
            got[k]["n_tokens"], got[k]["n_oov"], got[k]["oov_rate"]
        ) == (want[k]["n_tokens"], want[k]["n_oov"], want[k]["oov_rate"])
    # hand check: every scored doc has 4 tokens, exactly 2 oov
    assert all(r["n_tokens"] == 4 and r["n_oov"] == 2 for r in want.values())


def test_catalog_compaction_crash_window_and_hash_equal(spark, tmp_path):
    """compact_catalog's atomicity contract: (1) the merged catalog is
    value-equal to folding the generations by hand; (2) a crash
    BETWEEN the snapshot write and the manifest publish leaves the
    previous pointer live and the half-written snapshot unreachable;
    (3) the rerun recovers, publishes, and the re-read is hash-equal
    to the first complete result; (4) superseded generations are gone
    afterwards and a second compaction is a no-op."""
    from tgres_spark.streaming.catalog import (
        _list_versions,
        _publish_manifest,
        _snapshot_path,
        compact_catalog,
        read_catalog,
        run_catalog_pipeline,
    )

    for i, body in enumerate(
        (
            "web.a.cpu 1.0 1000\nweb.a.cpu 2.0 1060\nweb.b.cpu 3.0 1100\n",
            "web.a.cpu 9.0 2000\nweb.c.cpu 4.0 2100\n",
        )
    ):
        d = tmp_path / f"in{i}"
        d.mkdir()
        (d / "a.txt").write_text(body)
        run_catalog_pipeline(
            spark, str(d), str(tmp_path / f"gen{i}"), str(tmp_path / f"ck{i}")
        )
    gens = [str(tmp_path / "gen0"), str(tmp_path / "gen1")]
    out = str(tmp_path / "cat")

    # first pass, interrupted: write the merged snapshot but crash
    # before the manifest (simulated by doing exactly what
    # compact_catalog does up to the publish)
    from pyspark.sql import functions as F

    from tgres_spark.streaming.catalog import _merge_two

    merged = _merge_two(read_catalog(spark, gens[0]), read_catalog(spark, gens[1]))
    merged.repartition(2, F.col("name")).write.parquet(_snapshot_path(out, 0))
    assert read_catalog(spark, out) is None  # pointer never dangles

    # rerun completes: overwrites the orphan snapshot and publishes
    res = compact_catalog(spark, gens, out)
    assert res["n_generations"] == 2 and res["version"] == 0
    got = {r["name"]: r for r in read_catalog(spark, out).collect()}
    assert got["web.a.cpu"]["first_seen"] == 1000   # gen0 wins
    assert got["web.a.cpu"]["last_seen"] == 2000
    assert got["web.a.cpu"]["n_points"] == 3
    assert got["web.c.cpu"]["first_seen"] == 2100
    assert len(got) == 3

    # superseded generations dropped; second pass is a no-op and the
    # re-read is value-identical (hash-equal)
    assert _list_versions(spark, gens[0]) == []
    assert _list_versions(spark, gens[1]) == []
    res2 = compact_catalog(spark, gens, out)
    assert res2["n_generations"] == 0
    again = {r["name"]: r for r in read_catalog(spark, out).collect()}
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Micro-batching must be invisible: scoring the increment one
    file per trigger (3 real micro-batches) yields exactly the batch
    scorer's relation, and a planted twin of an indexed doc comes
    back at est_sim 1.0. Per-batch output dirs make replay idempotent
    (a rewritten batch overwrites its own b<id> subdir)."""
    import os as _os

    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import (
        dedup_incremental_score,
        minhash_signatures,
    )
    from tgres_spark.streaming.incdedup import run_incdedup_stream

    a = "the quick brown fox jumps over the lazy dog again and again today"
    c = "completely different content about spark shuffles and parquet files"
    existing = spark.createDataFrame(
        [(1, a), (2, c)], "doc_id long, text string"
    )
    inc_rows = [(10, a), (11, c + " plus a tail"), (12, "nothing shared here at all")]
    inc = spark.createDataFrame(inc_rows, "doc_id long, text string")

    idx = str(tmp_path / "idx")
    minhash_signatures(existing).write.parquet(idx)
    in_dir = str(tmp_path / "in")
    for i, row in enumerate(inc_rows):
        spark.createDataFrame([row], "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(in_dir)
    run_incdedup_stream(
        spark, in_dir, idx, str(tmp_path / "out"), str(tmp_path / "ck"),
        inc.schema, files_per_trigger=1,
    )
    got = {
        (r["doc_id"], r["index_doc_id"]): r["est_sim"]
        for r in spark.read.parquet(str(tmp_path / "out") + "/b*").collect()
    }
    want = {
        (r["doc_id"], r["index_doc_id"]): r["est_sim"]
        for r in dedup_incremental_score(
            inc, spark.read.parquet(idx)
        ).collect()
    }
    assert got == want
    assert got[(10, 1)] == 1.0
    assert (12, 1) not in got and (12, 2) not in got
    # one output dir per micro-batch (3 files, one per trigger)
    bdirs = [d for d in _os.listdir(str(tmp_path / "out")) if d.startswith("b")]
    assert len(bdirs) >= 2


def test_attribution_stream_credits_cross_batch_conversion(spark, tmp_path):
    """The reason streaming attribution is a cumulative refresh: a
    touch and its conversion land in DIFFERENT micro-batches, and the
    latest snapshot still credits it (a stateless per-batch twin
    structurally cannot). Final snapshot == batch attribution_relation
    over all events; lookback exclusion still applies."""
    from tgres_spark.streaming.refresh import (
        read_latest_snapshot,
        run_cumulative_refresh,
    )
    from tgres_spark.tpch import attribution_relation

    ns = 1_000_000_000
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    touches = [
        (1, 10 * ns, 100, "click", 1.0, "{}"),
        (2, 5 * ns, 200, "view", 1.0, "{}"),
        (3, 6 * ns, 200, "click", 1.0, "{}"),
        (4, 0 * ns, 300, "view", 1.0, "{}"),  # outside 3-day lookback
    ]
    convs = [
        (5, 20 * ns, 100, "purchase", 9.0, "{}"),
        (6, 7 * ns, 200, "purchase", 9.0, "{}"),
        (7, 400_000 * ns, 300, "purchase", 9.0, "{}"),
    ]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(touches, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(convs, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    allev = spark.createDataFrame(touches + convs, schema)
    run_cumulative_refresh(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
        allev.schema, attribution_relation, files_per_trigger=1,
    )
    got = {
        r["channel"]: (r["n_first"], r["n_last"], r["linear_credit"])
        for r in read_latest_snapshot(spark, str(tmp_path / "out")).collect()
    }
    assert got == {
        "click": (1, 2, 1.5),   # sole touch of u100 + last touch of u200
        "view": (1, 0, 0.5),    # first touch of u200; u300's is outside
    }
    want = {
        r["channel"]: (r["n_first"], r["n_last"], r["linear_credit"])
        for r in attribution_relation(allev).collect()
    }
    assert got == want
    import os as _os

    assert len(_os.listdir(str(tmp_path / "out") + "/snap")) >= 2


def test_rfm_refresh_reflips_segments_across_batches(spark, tmp_path):
    """The cumulative-refresh property RFM needs: batch 2's whale
    purchase shifts the corpus monetary mean, FLIPPING a batch-1
    user's M letter — the latest snapshot must equal the batch
    relation over all events (per-batch processing would have frozen
    the early segment)."""
    from tgres_spark.streaming.refresh import (
        read_latest_snapshot,
        run_cumulative_refresh,
    )
    from tgres_spark.tpch import rfm_relation

    ns = 1_000_000_000
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    batch1 = [
        (1, 10 * ns, 1, "purchase", 10.0, "{}"),
        (2, 11 * ns, 2, "purchase", 4.0, "{}"),
    ]
    batch2 = [(3, 12 * ns, 3, "purchase", 1000.0, "{}")]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    allev = spark.createDataFrame(batch1 + batch2, schema)
    run_cumulative_refresh(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
        allev.schema, rfm_relation,
    )
    got = {
        r["user_id"]: r
        for r in read_latest_snapshot(spark, str(tmp_path / "out")).collect()
    }
    want = {r["user_id"]: r for r in rfm_relation(allev).collect()}
    assert {u: r["segment"] for u, r in got.items()} == {
        u: r["segment"] for u, r in want.items()
    }
    # against batch-1 alone, user 1 (10 >= mean 7) is an M-high; the
    # whale in batch 2 drags the mean to 338 and flips it to L
    b1 = {
        r["user_id"]: r["segment"]
        for r in rfm_relation(spark.createDataFrame(batch1, schema)).collect()
    }
    assert b1[1][2] == "H" and got[1]["segment"][2] == "L"


def test_scene_cut_stream_matches_batch(spark, tmp_path):
    """Stateless per-video decomposability: cutting each video in its
    own micro-batch yields exactly the batch relation (union of
    per-batch outputs == mm_scene_cuts over all videos)."""
    from tgres_spark.pipeline.multimodal import mm_scene_cuts
    from tgres_spark.streaming.mmcuts import run_scene_cut_stream

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows = [
        (152, "some video content here", "en", "s", 1),   # %3==2 -> video
        (155, "a different video clip entirely", "en", "s", 1),
        (1, "not a video at all", "en", "s", 1),           # %3==1 -> non-video kind
    ]
    in_dir = str(tmp_path / "in")
    for r in rows:
        spark.createDataFrame([r], schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    run_scene_cut_stream(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
        spark.createDataFrame(rows, schema).schema,
    )
    got = {
        (r["media_id"], r["frame_idx"]): (r["hamming"], r["is_cut"])
        for r in spark.read.parquet(str(tmp_path / "out") + "/b*").collect()
    }
    want = {
        (r["media_id"], r["frame_idx"]): (r["hamming"], r["is_cut"])
        for r in mm_scene_cuts(
            spark.createDataFrame(rows, schema)
        ).collect()
    }
    assert got == want and got  # nonempty and identical
    assert all(m in (152, 155) for m, _ in got)


def test_attribution_delta_refresh_touched_users_only(spark, tmp_path):
    """The per-user delta refresh (round 10): (a) final snapshot ==
    batch attribution_relation over all events, INCLUDING a
    cross-batch conversion (u100's touch lands in batch 1, its
    purchase in batch 2 — batch 2 re-credits it because u100 is a
    touched user there); (b) an untouched user's state row is CARRIED,
    not recomputed — batch 2's recompute sees only batch-2 users'
    events (pinned by instrumenting the key relation), yet u200's row
    survives unchanged into the final state snapshot."""
    from pyspark.sql import functions as F

    from tgres_spark.streaming.refresh import (
        read_latest_snapshot,
        run_delta_refresh,
    )
    from tgres_spark.tpch import (
        attribution_relation,
        attribution_rollup,
        attribution_user_relation,
    )

    ns = 1_000_000_000
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    batch1 = [
        (1, 10 * ns, 100, "click", 1.0, "{}"),   # touch; converts in b2
        (2, 5 * ns, 200, "view", 1.0, "{}"),
        (3, 6 * ns, 200, "click", 1.0, "{}"),
        (4, 7 * ns, 200, "purchase", 9.0, "{}"),  # u200 complete in b1
    ]
    batch2 = [
        (5, 20 * ns, 100, "purchase", 9.0, "{}"),  # cross-batch conv
        (6, 30 * ns, 300, "view", 1.0, "{}"),
        (7, 40 * ns, 300, "purchase", 9.0, "{}"),
    ]
    in_dir = str(tmp_path / "in")
    for b in (batch1, batch2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    allev = spark.createDataFrame(batch1 + batch2, schema)

    seen_per_batch = []

    def instrumented(ev):
        seen_per_batch.append(
            {r["user_id"] for r in ev.select("user_id").distinct().collect()}
        )
        return attribution_user_relation(ev)

    out = str(tmp_path / "out")
    run_delta_refresh(
        spark, in_dir, out, str(tmp_path / "ck"), allev.schema,
        instrumented, "user_id", publish_fn=attribution_rollup,
    )
    got = {
        r["channel"]: (r["n_first"], r["n_last"], r["linear_credit"])
        for r in read_latest_snapshot(spark, out).collect()
    }
    want = {
        r["channel"]: (r["n_first"], r["n_last"], r["linear_credit"])
        for r in attribution_relation(allev).collect()
    }
    assert got == want
    # u100's b1 click credited by b2: it is first+last+full-linear for
    # u100's conversion (without it click would be (0, 1, 0.5))
    assert got["click"] == (1, 2, 1.5)

    # (b) batch 2's recompute saw ONLY batch-2 users (100, 300) —
    # u200's history was never re-read...
    assert seen_per_batch[-1] == {100, 300}
    # ...and u200's rows were carried verbatim from the b1 state
    s_first = spark.read.parquet(f"{out}/state/b000000")
    s_last = spark.read.parquet(f"{out}/state/b000001")
    u200 = lambda df: sorted(
        map(tuple, df.where(F.col("user_id") == 200).collect())
    )
    assert u200(s_first) == u200(s_last) and u200(s_last)


def test_prep_increment_stream_dedups_against_earlier_batch(spark, tmp_path):
    """The live prep loop's defining property: batch 2's docs are
    screened against batch 1's docs THROUGH the signature index
    updated mid-stream (no in-memory state). doc 10 (batch 2) is a
    verbatim copy of doc 5 (batch 1) -> dup_increment; doc 15 copies
    an original-corpus doc -> dup_corpus; doc 20 copies the benchmark
    doc -> contaminated; doc 5 itself stays clean (the min-id keeper
    rule)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    from tgres_spark.pipeline.contamination import contamination_index
    from tgres_spark.pipeline.dedup import dedup_index_update
    from tgres_spark.streaming.incdedup import run_prep_increment_stream

    t = "the quick brown fox jumps over the lazy dog while seventeen zebras watch from a distant hill every day"
    c = "completely different corpus content about spark shuffles parquet footers and adaptive query execution plans"
    b = "benchmark evaluation passage held out from training data with its own unmistakable phrasing and cadence"
    sch = "doc_id long, text string, lang string, source string, n_chars long"
    corpus = spark.createDataFrame(
        [(1, c, "en", "s1", 1), (2, b, "en", "src0", 1)], sch
    )
    work = str(tmp_path)
    dedup_index_update(
        spark, f"{work}/index",
        corpus.where(F.col("doc_id") % 5 != 0), generation=0,
        compact_threshold=10**9,
    )
    contamination_index(corpus).write.parquet(f"{work}/bench")
    b1 = [(5, t, "en", "s1", 1)]
    b2 = [(10, t, "en", "s1", 1), (15, c, "en", "s1", 1),
          (20, b, "en", "s1", 1)]
    _os.makedirs(f"{work}/in")
    t0 = _time.time() - 3600
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(
            f"{work}/tmp{i}"
        )
        part = _glob.glob(f"{work}/tmp{i}/part-*.parquet")[0]
        dst = f"{work}/in/{i:02d}.parquet"
        _shutil.copyfile(part, dst)
        _os.utime(dst, (t0 + i * 10, t0 + i * 10))
    run_prep_increment_stream(
        spark, f"{work}/in", f"{work}/index", f"{work}/bench",
        f"{work}/out", f"{work}/ck",
        spark.createDataFrame(b1, sch).schema,
    )
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{work}/out/b*").collect()
    }
    assert set(got) == {5, 10, 15, 20}
    assert got[5]["dup_increment"] == 0 and got[5]["dup_corpus"] == 0
    # the cross-batch pin: doc 10 saw doc 5 via the mid-stream index
    assert got[10]["dup_increment"] == 1 and got[10]["dup_corpus"] == 0
    assert got[15]["dup_corpus"] == 1
    assert got[20]["contaminated"] == 1 and got[20]["keep"] == 0
    # two real micro-batches landed
    bdirs = [d for d in _os.listdir(f"{work}/out") if d.startswith("b")]
    assert len(bdirs) == 2


def test_refresh_raw_fold_bounds_listing_and_preserves_relation(spark, tmp_path):
    """raw_compact_every folds the raw landing mid-stream without
    changing the published relation: a 4-batch delta-refresh run with
    fold cadence 2 publishes exactly the no-fold run's final
    snapshot, the raw/ listing ends bounded (generations at or below
    the previous fold retired, only post-fold deltas remain), and a
    rawbase generation exists with the full row count."""
    from tgres_spark.streaming.refresh import (
        _raw_gens,
        read_latest_snapshot,
        run_delta_refresh,
    )
    from tgres_spark.tpch import attribution_rollup, attribution_user_relation

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "in")
    # repartition (not coalesce: the tiny source is 1 split) so the
    # stream genuinely runs 4 micro-batches at maxFilesPerTrigger=1
    ev.repartition(4).write.parquet(in_dir)
    for name, every in (("nofold", None), ("fold", 2)):
        run_delta_refresh(
            spark, in_dir, str(tmp_path / name), str(tmp_path / f"ck_{name}"),
            ev.schema, attribution_user_relation, "user_id",
            publish_fn=attribution_rollup, raw_compact_every=every,
        )
    want = sorted(
        map(tuple, read_latest_snapshot(spark, str(tmp_path / "nofold")).collect())
    )
    got = sorted(
        map(tuple, read_latest_snapshot(spark, str(tmp_path / "fold")).collect())
    )
    assert got == want
    bases = _raw_gens(spark, str(tmp_path / "fold"), "rawbase")
    raws = _raw_gens(spark, str(tmp_path / "fold"), "raw")
    assert bases, "a fold must have happened"
    # grace-retire: raw generations at or below the PREVIOUS base are
    # gone; with cadence 2 over 4 batches at least one retirement ran
    assert len(raws) < 4
    # the newest base holds every row landed up to its generation
    n_base = spark.read.parquet(
        str(tmp_path / "fold") + f"/rawbase/b{bases[-1]:06d}"
    ).count()
    n_total = ev.count()
    assert 0 < n_base <= n_total
    # base + post-base deltas reconstruct the full landing
    from tgres_spark.streaming.refresh import _live_raw

    assert _live_raw(spark, str(tmp_path / "fold")).count() == n_total


def test_generation_pack_freezes_prior_shards(spark, tmp_path):
    """The class-4 frozen-generation contract (run_generation_pack):
    (a) a later tranche of arriving docs NEVER rewrites an earlier
    generation's files (paths + mtimes identical); (b) each
    generation equals the batch pack_weighted of exactly its own docs
    plus the per-lang width offset (the mixture-frozen semantics);
    (c) offsets chain: every generation's shards start above every
    prior generation's max within the lang."""
    import os

    from tgres_spark.pipeline.prep import pack_weighted
    from tgres_spark.streaming.refresh import (
        read_generations,
        run_generation_pack,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    n = len(ids)
    quarters = [
        ids[(n * i) // 4:(n * (i + 1)) // 4] for i in range(4)
    ]
    work = str(tmp_path / "pack")
    os.makedirs(f"{work}/in")
    t0 = 1_600_000_000

    def land(i):
        sub = docs.where(F.col("doc_id").isin(quarters[i]))
        sub.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp{i}")
        import glob
        import shutil

        src = glob.glob(f"{work}/tmp{i}/part-*.parquet")[0]
        dst = f"{work}/in/{i:02d}.parquet"
        shutil.copyfile(src, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))

    def snapshot():
        out = {}
        for root, _, files in os.walk(f"{work}/out/gen"):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    # tranche 1: two batches
    land(0)
    land(1)
    run_generation_pack(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", docs.schema,
        pack_weighted,
    )
    before = snapshot()
    assert before, "first tranche must produce generations"
    # tranche 2: two more batches through the SAME checkpoint
    land(2)
    land(3)
    run_generation_pack(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", docs.schema,
        pack_weighted,
    )
    after = snapshot()
    # (a) frozen: every tranche-1 file identical, new files appeared
    for p, m in before.items():
        assert p in after and after[p] == m, f"frozen generation changed: {p}"
    assert len(after) > len(before)

    # (b) per-generation equality vs batch pack of its own docs
    def batch_pack(i):
        return {
            (r["lang"], r["doc_id"], r["copy_id"], r["n_tokens"], r["shard"])
            for r in pack_weighted(
                docs.where(F.col("doc_id").isin(quarters[i]))
            ).collect()
        }

    got_by_gen = {}
    for g in range(4):
        got_by_gen[g] = {
            (r["lang"], r["doc_id"], r["copy_id"], r["n_tokens"], r["shard"])
            for r in spark.read.parquet(f"{work}/out/gen/b{g:06d}").collect()
        }
    # generation 0 has no offset: equal outright
    assert got_by_gen[0] == batch_pack(0)
    # later generations: equal modulo the per-lang offset, and (c)
    # every shard starts strictly above all prior generations' max
    for g in range(1, 4):
        prior_max = {}
        for pg in range(g):
            for lang, _, _, _, s in got_by_gen[pg]:
                prior_max[lang] = max(prior_max.get(lang, -1), s)
        rel = batch_pack(g)
        offs = {
            lang: prior_max.get(lang, -1) + 1
            for lang in {t[0] for t in rel}
        }
        shifted = {
            (lang, d, c, t, s + offs[lang]) for lang, d, c, t, s in rel
        }
        assert got_by_gen[g] == shifted, f"generation {g}"
        for lang, _, _, _, s in got_by_gen[g]:
            assert s >= prior_max.get(lang, -1) + 1

    # the published union covers every doc with >=1 copy exactly once
    pub = read_generations(spark, f"{work}/out")
    assert pub.count() == sum(len(v) for v in got_by_gen.values())


def test_ivf_search_stream_order_free_and_equals_batch(spark, tmp_path):
    """The streaming consult path's two pins: (a) per-query outputs
    through the stream equal the batch search over the same
    maintained index EXACTLY; (b) arrival order is irrelevant —
    running the same queries in REVERSED file order produces the
    identical relation (the class-1 property: a query's top-k is a
    function of the index alone)."""
    import glob
    import os
    import shutil

    import numpy as np

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        ann_ivf_compact_cells,
        ann_ivf_index_live,
        ann_ivf_index_write_full,
        ann_ivf_search_index,
    )
    from tgres_spark.streaming.ivfsearch import run_ivf_search_stream

    rng = np.random.default_rng(9)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=EMB_DIM)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "index")
    ann_ivf_index_write_full(spark, idx, emb)
    ann_ivf_compact_cells(spark, idx, mod=7, compact_frac=0.1)

    q = (
        ann_ivf_index_live(spark, idx)
        .where(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
    )
    want = {
        (r["query_id"], r["neighbor_id"], r["dist"], r["rank"])
        for r in ann_ivf_search_index(spark, idx, n_queries=8).collect()
    }

    def run(order):
        work = str(tmp_path / f"s{order}")
        os.makedirs(f"{work}/in")
        qids = sorted(r["vec_id"] for r in q.select("vec_id").collect())
        halves = [qids[: len(qids) // 2], qids[len(qids) // 2:]]
        if order == "rev":
            halves = halves[::-1]
        for i, ids in enumerate(halves):
            part = q.where(F.col("vec_id").isin(ids))
            part.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp{i}")
            src = glob.glob(f"{work}/tmp{i}/part-*.parquet")[0]
            dst = f"{work}/in/{i:02d}.parquet"
            shutil.copyfile(src, dst)
            os.utime(dst, (1_600_000_000 + i * 10, 1_600_000_000 + i * 10))
        run_ivf_search_stream(
            spark, f"{work}/in", idx, f"{work}/out", f"{work}/ckpt",
            q.schema,
        )
        return {
            (r["query_id"], r["neighbor_id"], r["dist"], r["rank"])
            for r in spark.read.parquet(f"{work}/out/b*").collect()
        }

    assert run("fwd") == want
    assert run("rev") == want


def test_semdedup_increment_stream_dedups_through_the_index(spark, tmp_path):
    """The embedding crawl loop's cross-batch pin: vector 20 (batch 2)
    is a near-duplicate of vector 10 (batch 1) and of nothing in the
    corpus — it can only be flagged dup_increment through the index
    updated mid-stream by batch 1's write-back. Vector 10 itself
    keeps (its only partner has the HIGHER id). A corpus near-dup in
    the same cell flags dup_corpus. Everything far apart keeps."""
    import glob
    import os
    import shutil

    import numpy as np

    from tgres_spark.pipeline.similarity import (
        EMB_DIM,
        IVF_CODEBOOK_K,
        _ivf_codebook,
    )
    from tgres_spark.streaming.incdedup import run_semdedup_increment_stream

    cents = np.array(_ivf_codebook(IVF_CODEBOOK_K, seed=7))
    c0, c1, c2 = cents[0], cents[1], cents[2]
    rng = np.random.default_rng(7)
    noise = rng.normal(size=EMB_DIM) * 1e-3
    rows = {
        # corpus (vec_id % 5 != 0)
        1: c0 * 1.02,            # corpus twin of increment vec 5
        2: c1 * 4.0,             # far away, different cell
        # increment (vec_id % 5 == 0), arriving in id order
        5: c0 * 1.01,            # ~ corpus vec 1 -> dup_corpus
        10: c2 * 1.03,           # no partner yet -> keep
        20: c2 * 1.03 + noise,   # ~ vec 10 through the index -> dup_increment
        25: c1 * -4.0,           # isolated direction -> keep
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows.items()],
        "vec_id long, embedding array<double>",
    )
    work = str(tmp_path / "sem")
    from tgres_spark.pipeline.similarity import _norm, _sq_dists

    cdf = spark.createDataFrame(
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    (
        emb.where(F.col("vec_id") % 5 != 0)
        .crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id", "embedding",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint").alias("cell"),
            _norm(F.col("embedding")).alias("nrm"),
        )
        .write.mode("overwrite").parquet(f"{work}/idx/g000000")
    )
    inc = emb.where(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    os.makedirs(f"{work}/in")
    batches = [[5, 10], [20, 25]]
    for i, ids in enumerate(batches):
        part = inc.where(F.col("vec_id").isin(ids))
        part.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp{i}")
        src = glob.glob(f"{work}/tmp{i}/part-*.parquet")[0]
        dst = f"{work}/in/{i:02d}.parquet"
        shutil.copyfile(src, dst)
        os.utime(dst, (1_600_000_000 + i * 10, 1_600_000_000 + i * 10))
    run_semdedup_increment_stream(
        spark, f"{work}/in", f"{work}/idx", f"{work}/out", f"{work}/ckpt",
        inc.schema, threshold=0.95,
    )
    got = {
        r["vec_id"]: r
        for r in spark.read.parquet(f"{work}/out/b*").collect()
    }
    assert set(got) == {5, 10, 20, 25}
    assert got[5]["dup_corpus"] == 1 and got[5]["keep"] == 0
    assert got[10]["dup_corpus"] == 0 and got[10]["dup_increment"] == 0
    assert got[10]["keep"] == 1
    # the cross-batch flag: only reachable through the index write-back
    assert got[20]["dup_increment"] == 1 and got[20]["keep"] == 0
    assert got[25]["keep"] == 1
    # the index now holds corpus + both batches
    n_idx = spark.read.parquet(*sorted(glob.glob(f"{work}/idx/g*"))).count()
    assert n_idx == 6


def _checkpoint_manager_class(spark, path) -> str:
    """The CheckpointFileManager Spark would pick for ``path`` under the
    session's current confs."""
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return mgr.create(jvm.org.apache.hadoop.fs.Path(str(path)), conf).getClass().getName()


def _drop_two_files(in_dir):
    """Leg 1 leaves m.two's (1020,1080] slot open in state; leg 2 adds
    its second point and a sentinel that closes it."""
    in_dir.mkdir()
    (in_dir / "a.txt").write_text(
        "m.one 1.0 1000\nm.one 3.0 1010\nm.two 2.0 1030\nzz.s 0.0 1045\n"
    )
    return lambda: (in_dir / "b.txt").write_text("m.two 4.0 1070\nzz.s 0.0 6000\n")


def _rows(spark, out_dir):
    return sorted(tuple(r) for r in spark.read.parquet(str(out_dir)).collect())


def test_streaming_uses_filesystem_checkpoint_manager(spark, tmp_path):
    """A library pipeline switches its session to the FileSystem-based
    checkpoint manager, which forks no ``readlink`` per rename."""
    spark.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)
    ckpt = tmp_path / "ck"
    assert _checkpoint_manager_class(spark, ckpt).endswith(
        "FileContextBasedCheckpointFileManager"
    )
    _drop_two_files(tmp_path / "in")
    run_file_pipeline(spark, str(tmp_path / "in"), str(tmp_path / "out"), str(ckpt),
                      step_s=60, watermark_s=10)
    assert _checkpoint_manager_class(spark, ckpt).endswith(
        "FileSystemBasedCheckpointFileManager"
    )


def test_resume_from_file_context_checkpoint(spark, tmp_path):
    """A checkpoint the default (FileContext) manager wrote resumes
    through the library's manager: offsets, the file-source log and the
    window state all carry over, so the sink equals one uninterrupted
    run over both files."""
    from tgres_spark.streaming.ingest import read_graphite_stream, streaming_consolidate

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    drop_second = _drop_two_files(in_dir)
    spark.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)
    assert _checkpoint_manager_class(spark, ckpt).endswith(
        "FileContextBasedCheckpointFileManager"
    )
    rolled = streaming_consolidate(
        read_graphite_stream(spark, str(in_dir)), step_s=60, watermark_s=10
    )
    (
        rolled.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert _rows(spark, out_dir) == [("m.one", 1020, 2.0)]
    drop_second()
    run_file_pipeline(spark, str(in_dir), str(out_dir), str(ckpt), step_s=60, watermark_s=10)

    whole = tmp_path / "whole"
    run_file_pipeline(spark, str(in_dir), str(whole), str(tmp_path / "ck_whole"),
                      step_s=60, watermark_s=10)
    assert _rows(spark, out_dir) == _rows(spark, whole)
    assert ("m.two", 1080, 3.0) in _rows(spark, out_dir)


def test_corrupt_offsets_file_fails_restart(spark, tmp_path):
    """Hadoop .crc verification survives the manager switch: one flipped
    byte in the latest committed offsets file stops the restart with a
    checksum error instead of a silent resume."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    drop_second = _drop_two_files(in_dir)
    run_file_pipeline(spark, str(in_dir), str(out_dir), str(ckpt), step_s=60, watermark_s=10)
    offsets = ckpt / "offsets"
    latest = offsets / str(max(int(n) for n in os.listdir(offsets) if n.isdigit()))
    data = bytearray(latest.read_bytes())
    data[-2] ^= 0x01
    latest.write_bytes(bytes(data))
    drop_second()
    with pytest.raises(StreamingQueryException, match="Checksum error"):
        run_file_pipeline(
            spark, str(in_dir), str(out_dir), str(ckpt), step_s=60, watermark_s=10
        )


def test_streams_start_only_through_run_available_now():
    """Every streaming query in the package starts through the one
    helper that sets the checkpoint manager; a hand-rolled chain would
    silently fall back to the default manager."""
    pkg = Path(__file__).resolve().parent.parent / "tgres_spark"
    hits = {str(p.relative_to(pkg)): p.read_text().count("writeStream") for p in pkg.rglob("*.py")}
    assert {f: n for f, n in hits.items() if n} == {"streaming/__init__.py": 1}


def test_flush_window_is_built_only_in_flush_slots():
    """The end-labeled flush window (watermark + window over t - 1) is
    built in one place, aggregator.flush_slots; the statsd, pixel and
    consolidation streams group through it, so batch and streaming
    flushes cannot drift apart again. Likewise consolidate.py has one
    lag-duration pass (_durations)."""
    import ast

    pkg = Path(__file__).resolve().parent.parent / "tgres_spark"

    def calls(rel, attrs):
        tree = ast.parse((pkg / rel).read_text())
        return {
            (rel, fn.name, node.func.attr)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            for node in ast.walk(fn)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in attrs
        }

    window = {"withWatermark", "window"}
    assert calls("aggregator.py", window) | calls("streaming/ingest.py", window) == {
        ("aggregator.py", "flush_slots", "withWatermark"),
        ("aggregator.py", "flush_slots", "window"),
    }
    assert calls("operators/consolidate.py", {"lag"}) == {
        ("operators/consolidate.py", "_durations", "lag"),
    }
