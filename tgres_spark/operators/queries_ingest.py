"""SURVEY §2.7 — ingest protocol parsing + statsd flush queries.

Protocol lines are synthesized deterministically from the events
table (identical printf in Spark and DuckDB), parsed back by the real
parsers, and aggregated by the real flush logic — so the oracle
exercises parse→aggregate end-to-end, malformed-line handling
included.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from ..model import literal_df

from ..aggregator import (
    flush_counters_sql,
    flush_gauges_sql,
    flush_timers_sql,
    paced_metrics,
    paced_metrics_sql,
    statsd_flush,
)
from ..model import (
    EVENTS_SERIES_SQL, epoch_s, load_table, series_from_events, workdir,
)
from ..pipeline import dedup as dd_sql
from ..registry import register
from ..sources.graphite import parse_graphite_lines, parse_graphite_lines_sql
from ..sources.statsd import parse_statsd_packets, parse_statsd_packets_sql

FLUSH = 60


# --- graphite line protocol ------------------------------------------------

def graphite_lines(spark, sf_dir):
    """events → protocol lines, with a deterministic sprinkle of
    malformed lines the parser must reject."""
    # repartition BEFORE the projection: the single-file testdata would
    # otherwise format+parse the whole stream on one core
    ev = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    good = F.format_string(
        "web.%s.hits %.2f %d",
        F.col("event_type"),
        F.col("value"),
        epoch_s("ts", ev),
    )
    line = F.when(F.col("event_id") % 97 == 0, F.lit("not a metric")).otherwise(good)
    # the testdata is one small parquet file = one input partition; a
    # real protocol firehose is parallel, so spread the synthesized
    # stream before the parse (cheap narrow-ish shuffle, unlocks cores)
    return ev.select(line.alias("line"))


GRAPHITE_LINES_SQL = (
    "SELECT CASE WHEN event_id % 97 = 0 THEN 'not a metric' ELSE "
    "printf('web.%s.hits %.2f %d', event_type, value, epoch_ns(ts) // 1000000000) "
    "END AS line FROM events"
)


@register(
    "graphite_line_parse",
    sql=parse_graphite_lines_sql(GRAPHITE_LINES_SQL),
)
def graphite_line_parse(spark, sf_dir):
    return parse_graphite_lines(graphite_lines(spark, sf_dir))


# --- carbon pickle protocol ------------------------------------------------

def _pickle_datapoints(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    return ev.select(
        F.concat(F.lit("web."), F.col("event_type"), F.lit(".hits")).alias("name"),
        epoch_s("ts", ev).alias("t"),
        F.col("value").cast("double").alias("value"),
    )


@register(
    "graphite_pickle_parse",
    # encode→decode is lossless (pickle binary64 floats, exact ints),
    # so the oracle is simply the source relation — a full hash check
    # of the distributed round-trip, not rows-only.
    sql=(
        "SELECT 'web.' || event_type || '.hits' AS name, "
        "epoch_ns(ts) // 1000000000 AS t, CAST(value AS DOUBLE) AS value "
        "FROM events"
    ),
)
def graphite_pickle_parse(spark, sf_dir):
    """Carbon pickle wire format round-trip: datapoints → length-
    prefixed pickle frames (distributed encode) → safe-unpickle parse
    (daemon/graphite_pickle.go:142-198 semantics)."""
    from ..sources.carbon_pickle import encode_pickle_frames, parse_pickle_frames

    return parse_pickle_frames(encode_pickle_frames(_pickle_datapoints(spark, sf_dir)))


# --- statsd ----------------------------------------------------------------

def statsd_packets(spark, sf_dir):
    """events → statsd packets: clicks/views = counters (views sampled
    at 0.5), errors/signups = timers, purchases = gauges (every third a
    +delta); every 97th packet malformed."""
    ev = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    metric = (
        F.when(F.col("event_type").isin("click", "view"), "c")
        .when(F.col("event_type").isin("error", "signup"), "ms")
        .otherwise("g")
    )
    sign = F.when(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 3 == 0), "+"
    ).otherwise("")
    sample = F.when(F.col("event_type") == "view", "|@0.50").otherwise("")
    good = F.concat(
        F.lit("app."), F.col("event_type"),
        F.lit(":"), sign, F.format_string("%.2f", F.col("value")),
        F.lit("|"), metric, sample,
    )
    pkt = F.when(F.col("event_id") % 97 == 0, F.lit("oops|nope")).otherwise(good)
    return ev.select(epoch_s("ts", ev).alias("t"), pkt.alias("packet"))


STATSD_PACKETS_SQL = (
    "SELECT epoch_ns(ts) // 1000000000 AS t, "
    "CASE WHEN event_id % 97 = 0 THEN 'oops|nope' ELSE "
    "'app.' || event_type || ':' || "
    "(CASE WHEN event_type = 'purchase' AND event_id % 3 = 0 THEN '+' ELSE '' END) || "
    "printf('%.2f', value) || '|' || "
    "(CASE WHEN event_type IN ('click', 'view') THEN 'c' "
    " WHEN event_type IN ('error', 'signup') THEN 'ms' ELSE 'g' END) || "
    "(CASE WHEN event_type = 'view' THEN '|@0.50' ELSE '' END) "
    "END AS packet FROM events"
)

PARSED_SQL = parse_statsd_packets_sql(STATSD_PACKETS_SQL)


@register(
    "statsd_parse",
    sql=(
        "SELECT t, name, value, metric, sample, "
        f"CAST(delta AS BIGINT) AS delta FROM ({PARSED_SQL})"
    ),
)
def statsd_parse(spark, sf_dir):
    p = parse_statsd_packets(statsd_packets(spark, sf_dir))
    return p.withColumn("delta", F.col("delta").cast("bigint"))


def _parsed(spark, sf_dir):
    return parse_statsd_packets(statsd_packets(spark, sf_dir))


@register("statsd_flush_counters", sql=flush_counters_sql(PARSED_SQL, FLUSH))
def statsd_flush_counters(spark, sf_dir):
    from ..aggregator import _flush_counters

    return _flush_counters(_parsed(spark, sf_dir), FLUSH, "stats")


@register("statsd_flush_gauges", sql=flush_gauges_sql(PARSED_SQL, FLUSH))
def statsd_flush_gauges(spark, sf_dir):
    from ..aggregator import _flush_gauges

    return _flush_gauges(_parsed(spark, sf_dir), FLUSH, "stats")


@register("statsd_flush_timers", sql=flush_timers_sql(PARSED_SQL, FLUSH))
def statsd_flush_timers(spark, sf_dir):
    from ..aggregator import _flush_timers

    return _flush_timers(_parsed(spark, sf_dir), FLUSH, "stats")


@register(
    "statsd_flush_all",
    sql=(
        flush_counters_sql(PARSED_SQL, FLUSH)
        + " UNION ALL "
        + flush_gauges_sql(PARSED_SQL, FLUSH)
        # timers SQL starts with a CTE — wrap as a derived table
        + " UNION ALL SELECT * FROM ("
        + flush_timers_sql(PARSED_SQL, FLUSH)
        + ")"
    ),
)
def statsd_flush_all(spark, sf_dir):
    return statsd_flush(_parsed(spark, sf_dir), FLUSH, "stats")


@register(
    "paced_metric",
    sql=paced_metrics_sql(EVENTS_SERIES_SQL, 300, "sum"),
)
def paced_metric(spark, sf_dir):
    return paced_metrics(series_from_events(spark, sf_dir), 300, "sum")


_STREAM_INGEST_ORACLE_SQL = (
    "WITH parsed AS ("
    + parse_graphite_lines_sql(GRAPHITE_LINES_SQL)
    + "), mx AS (SELECT MAX(t) AS mt FROM parsed), "
    "slots AS (SELECT name, ((t - 1) // 3600) * 3600 + 3600 AS t, "
    "CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS mv, value FROM parsed) "
    "SELECT name, t, CAST(SUM(mv) AS DOUBLE) / 1000000.0 / COUNT(value) AS value "
    "FROM slots, mx WHERE t <= mt - 61 GROUP BY name, t"
)


@register("streaming_ingest_pipeline", sql=_STREAM_INGEST_ORACLE_SQL)
def streaming_ingest_pipeline(spark, sf_dir):
    """End-to-end Structured Streaming drive: events → graphite lines
    on disk → readStream → parse → watermarked consolidate → parquet.
    Returns the archived slots (final open slot withheld by the
    watermark, as documented in streaming/ingest.py).

    Oracle-checkable: this run folds ONE availableNow data batch (≤ 4
    files < maxFilesPerTrigger), so no row is ever late and append
    mode emits exactly the slots whose end ≤ final watermark =
    max(t) - 61 (event time is t-1, delay 60 s; Spark's eviction
    predicate window.end - 1ms < watermark reduces to ≤ on integer
    seconds). The SQL mirrors the (start, end]-aligned slot label and
    the micro6 average. Multi-batch watermark behavior (late-row
    drops, incremental emission) is pinned in tests/test_streaming.py."""
    from ..streaming.ingest import run_file_pipeline

    work = workdir(spark, "tgres_stream_")
    in_dir = f"{work}/in"
    out_dir = f"{work}/out"
    import os

    os.makedirs(in_dir)
    lines = graphite_lines(spark, sf_dir)
    lines.coalesce(4).write.mode("overwrite").text(in_dir)
    run_file_pipeline(
        spark, in_dir, out_dir, f"{work}/ckpt", step_s=3600, watermark_s=60
    )
    return spark.read.parquet(out_dir)


_PACED_ORACLE_SQL = (
    "WITH parsed AS ("
    + parse_graphite_lines_sql(GRAPHITE_LINES_SQL)
    + "), w AS (SELECT name, (t - 1) // 3600 AS win, "
    "CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS mv FROM parsed), "
    "agg AS (SELECT name, win, SUM(mv) AS s FROM w GROUP BY name, win), "
    "mx AS (SELECT name, MAX(win) AS mw FROM w GROUP BY name) "
    "SELECT agg.name, (agg.win + 1) * 3600 AS t, "
    "CAST(s AS DOUBLE) / 1000000.0 AS value "
    "FROM agg JOIN mx ON agg.name = mx.name WHERE agg.win < mx.mw"
)


@register("streaming_paced_metric", sql=_PACED_ORACLE_SQL)
def streaming_paced_metric(spark, sf_dir):
    """Stateful streaming paced metrics (receiver/pacedmetric.go) over
    the events-derived series: graphite lines on disk → readStream →
    applyInPandasWithState 'sum' pacing → parquet. Event-time driven
    emission (deterministic replay); batch equivalence is pinned by
    tests/test_streaming.py::test_paced_metrics_stream_matches_batch_sum.

    Oracle-checkable: one availableNow data batch (≤ 4 files) walks
    each series t-sorted, so 'sum' pacing emits exactly the micro6
    window sums for every pace window except each name's LAST (held
    open in state, label (win+1)·pace). Multi-batch state carry-over
    and the sentinel-flush behavior stay pinned in the streaming
    tests."""
    import os

    from ..streaming.paced import run_paced_file_pipeline

    work = workdir(spark, "tgres_paced_")
    in_dir = f"{work}/in"
    out_dir = f"{work}/out"
    os.makedirs(in_dir)
    lines = graphite_lines(spark, sf_dir)
    lines.coalesce(4).write.mode("overwrite").text(in_dir)
    run_paced_file_pipeline(
        spark, in_dir, out_dir, f"{work}/ckpt", pace_s=3600, kind="sum"
    )
    return spark.read.parquet(out_dir)


def _wsp_specs() -> dict:
    """The deterministic .wsp fixture tree — shared by the import
    query AND its oracle, so the expected relation is derived from the
    same literals the writer encodes (f64 storage is exact: the
    round-trip reproduces these values bit-for-bit)."""
    t0 = 1704067200
    return {
        "web/cpu.wsp": [
            (60, [(t0 + i * 60, float(i % 17) + 0.25) for i in range(120)]),
            (3600, [(t0 + i * 3600, float(i) * 1.5) for i in range(24)]),
        ],
        "web/mem.wsp": [
            (60, [(t0 + i * 60, 100.0 - (i % 13)) for i in range(90)]),
        ],
        "db/io.wsp": [
            (300, [(t0 + i * 300, float((i * 7) % 29) / 2.0) for i in range(60)]),
        ],
    }


def _wsp_oracle_sql() -> str:
    """VALUES-literal oracle: every (name, step, t, value) the fixture
    encodes. repr(float) round-trips through DuckDB's literal parser
    to the identical double (shortest-repr guarantee)."""
    rows = []
    for rel, archives in sorted(_wsp_specs().items()):
        name = rel[: -len(".wsp")].replace("/", ".")
        for spp, pts in archives:
            for ts, v in pts:
                rows.append(f"('{name}', {spp}, {ts}, {v!r})")
    return (
        "SELECT name, CAST(archive_step AS BIGINT) AS archive_step, "
        "CAST(t AS BIGINT) AS t, CAST(value AS DOUBLE) AS value "
        "FROM (VALUES " + ", ".join(rows)
        + ") AS v(name, archive_step, t, value)"
    )


@register("whisper_import", sql=_wsp_oracle_sql())
def whisper_import(spark, sf_dir):
    """Whisper archive import (cmd/whisper_import/main.go): a small
    deterministic .wsp tree is synthesized with the library's own
    writer (sources/whisper.py write_whisper_bytes — round-trip +
    hypothesis tested), then read back distributed via binaryFile →
    mapInPandas. Covers the one source with no parquet testdata; the
    oracle is a VALUES literal emitted from the same spec generator
    (_wsp_oracle_sql), so the import is hash-checked end to end."""
    import hashlib
    import os
    import tempfile

    from ..sources.whisper import read_whisper, write_whisper_bytes

    specs = _wsp_specs()
    # fixture dir keyed by a digest of the encoded archives: a stale
    # cache from an older spec (or codec change) regenerates instead
    # of silently serving old bytes; existence alone is not identity
    blobs = {rel: write_whisper_bytes(a) for rel, a in specs.items()}
    digest = hashlib.md5(
        b"".join(k.encode() + v for k, v in sorted(blobs.items()))
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"tgres_spark_wsp_{digest}")
    for rel, blob in blobs.items():
        path = os.path.join(root, rel)
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = path + ".tmp"
            with open(tmp, "wb") as f:
                f.write(blob)
            os.replace(tmp, path)
    return read_whisper(spark, f"{root}/*/*.wsp", root=root)


_CATALOG_ORACLE_SQL = (
    "SELECT name, MIN(t) AS first_seen, MAX(t) AS last_seen, "
    "CAST(COUNT(*) AS BIGINT) AS n_points FROM ("
    + parse_graphite_lines_sql(GRAPHITE_LINES_SQL)
    + ") GROUP BY name"
)


@register("streaming_name_catalog", sql=_CATALOG_ORACLE_SQL)
def streaming_name_catalog(spark, sf_dir):
    """Live name catalog (receiver/dscache.go create-on-first-write):
    events → graphite lines on disk → streaming foreachBatch fold into
    a snapshot-versioned catalog → (name, first_seen, last_seen,
    n_points). Deterministic: derived entirely from the events table
    (malformed lines rejected by the parser drop out of the count).

    Oracle-checkable because this run folds in ONE availableNow batch
    (≤ 4 input files < maxFilesPerTrigger), where the catalog fold IS
    min/max/count per name over the parsed stream. The multi-batch
    semantics the fold adds beyond that SQL — first_seen pinned by the
    creating batch, replay idempotency, snapshot/manifest rotation —
    are pinned separately in tests/test_streaming.py."""
    from ..streaming.catalog import read_catalog, run_catalog_pipeline

    work = workdir(spark, "tgres_cat_")
    in_dir = f"{work}/in"
    lines = graphite_lines(spark, sf_dir)
    lines.coalesce(4).write.mode("overwrite").text(in_dir)
    run_catalog_pipeline(spark, in_dir, f"{work}/cat", f"{work}/ckpt")
    return read_catalog(spark, f"{work}/cat")


@register(
    "streaming_dedup_incremental", sql=dd_sql.dedup_incremental_score_sql()
)
def streaming_dedup_incremental(spark, sf_dir):
    """The live-crawl deployment of incremental dedup (round 9,
    streaming/incdedup.py): the existing corpus's minhash signature
    index persists to parquet; the increment (doc_id % 5 == 0)
    arrives as a FILE-PER-TRIGGER stream and each micro-batch scores
    statelessly against the static index — in-row signatures, in-row
    band keys, stream-static band join, first-matching-band filter in
    place of a stateful DISTINCT. Four real micro-batches, then the
    appended output re-read. Oracle: the full-corpus LSH rerun
    filtered to cross pairs (a doc's matches depend only on its own
    text and the static index, so batching is invisible)."""
    from ..pipeline import dedup as dd_mod
    from ..streaming.incdedup import run_incdedup_stream

    work = workdir(spark, "tgres_sinc_")
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % dd_mod.INCREMENT_MOD
    dd_mod.minhash_signatures(docs.where(m != 0)).write.mode(
        "overwrite"
    ).parquet(f"{work}/index")
    inc = docs.where(m == 0).select("doc_id", "text")
    inc.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_incdedup_stream(
        spark,
        f"{work}/in",
        f"{work}/index",
        f"{work}/out",
        f"{work}/ckpt",
        inc.schema,
    )
    return spark.read.parquet(f"{work}/out/b*")


@register(
    "streaming_attribution",
    sql=__import__("tgres_spark.tpch", fromlist=["x"])._ATTRIBUTION_SQL,
)
def streaming_attribution(spark, sf_dir):
    """Cumulative-refresh attribution over a live event stream (round
    9, streaming/refresh.py): attribution is not per-batch
    decomposable (a touch's conversion may arrive later), so each
    micro-batch lands its raw events idempotently and republishes the
    FULL relation as a numbered snapshot — the latest snapshot always
    equals the batch operator over everything seen, which is exactly
    what the batch oracle checks. Four real micro-batches over the
    events table, then the latest snapshot re-read."""
    from ..streaming.refresh import (
        read_latest_snapshot, run_cumulative_refresh,
    )
    from ..tpch import attribution_relation

    work = workdir(spark, "tgres_sattr_")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_cumulative_refresh(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", ev.schema,
        attribution_relation,
    )
    return read_latest_snapshot(spark, f"{work}/out")


@register(
    "streaming_attribution_delta",
    sql=__import__("tgres_spark.tpch", fromlist=["x"])._ATTRIBUTION_SQL,
)
def streaming_attribution_delta(spark, sf_dir):
    """Per-user DELTA refresh attribution (round 10): same published
    relation and same batch oracle as streaming_attribution, but each
    micro-batch recomputes only the users it touches and carries the
    untouched users' rows from the prior state snapshot — attribution
    is per-user decomposable, so the full cumulative recompute is
    unnecessary work (refresh.py's three-class deployment rule).
    Four real micro-batches, latest snapshot re-read."""
    from ..streaming.refresh import (
        read_latest_snapshot, run_delta_refresh,
    )
    from ..tpch import attribution_rollup, attribution_user_relation

    work = workdir(spark, "tgres_sattrd_")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_delta_refresh(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", ev.schema,
        attribution_user_relation, "user_id",
        publish_fn=attribution_rollup,
        # fold the raw landing every 3 generations so the per-batch
        # history listing stays bounded by the fold cadence instead of
        # growing with total batch count
        raw_compact_every=3,
    )
    return read_latest_snapshot(spark, f"{work}/out")


@register(
    "streaming_funnel_delta",
    sql=__import__("tgres_spark.tpch", fromlist=["x"])._FUNNEL_SQL,
)
def streaming_funnel_delta(spark, sf_dir):
    """Live ordered funnel via per-user delta refresh (round 10, the
    SECOND class-2 instance proving run_delta_refresh is generic, not
    attribution-shaped): funnel stage times are per-user (a click
    advances a user only against that user's own first view), so each
    micro-batch recomputes just the users it touches — a purchase
    arriving today completes a funnel whose view/click landed weeks
    ago without re-reading anyone else's history; publish = the
    3-count rollup; same batch oracle verbatim. Four real
    micro-batches, latest snapshot re-read."""
    from ..streaming.refresh import (
        read_latest_snapshot, run_delta_refresh,
    )
    from ..tpch import funnel_rollup, funnel_user_relation

    work = workdir(spark, "tgres_sfun_")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_delta_refresh(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", ev.schema,
        funnel_user_relation, "user_id", publish_fn=funnel_rollup,
        raw_compact_every=3,  # exercise the raw fold mid-stream
    )
    return read_latest_snapshot(spark, f"{work}/out")


@register(
    "streaming_rfm",
    sql=__import__("tgres_spark.tpch", fromlist=["x"])._RFM_SQL,
)
def streaming_rfm(spark, sf_dir):
    """The live RFM dashboard (round 9, the second instance of the
    generic cumulative-refresh shape, streaming/refresh.py): segments
    depend on corpus MEANS and the corpus max timestamp, so a purchase
    arriving in batch N can flip letters assigned in batch N−1 —
    per-batch processing structurally cannot express that; each batch
    lands raw events idempotently and republishes the full relation,
    and the latest snapshot equals the batch operator over everything
    seen (the batch SQL is the oracle verbatim). Four real
    micro-batches over the events table, latest snapshot re-read."""
    from ..streaming.refresh import (
        read_latest_snapshot, run_cumulative_refresh,
    )
    from ..tpch import rfm_relation

    work = workdir(spark, "tgres_srfm_")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_cumulative_refresh(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", ev.schema,
        rfm_relation,
    )
    return read_latest_snapshot(spark, f"{work}/out")


@register(
    "streaming_index_update",
    sql=(
        "SELECT doc_id, array_to_string(sig, '') AS sig_cat FROM ("
        + __import__(
            "tgres_spark.pipeline.dedup", fromlist=["x"]
        ).minhash_signatures_sql()
        + ")"
    ),
)
def streaming_index_update(spark, sf_dir):
    """Live write-back of the dedup signature index (round 10,
    streaming/incdedup.run_index_update_stream): four real doc
    micro-batches each append their signatures as delta generation =
    batch_id under the write-once-manifest discipline, with
    compact_threshold=3 forcing a compaction fold MID-STREAM; the
    accumulated index re-read (latest-wins resolve) must equal the
    full-corpus minhash_signatures rerun — micro-batching is
    invisible because a doc's signature depends only on its own
    text. gen is deliberately not returned: which batch carried a doc
    is file-split plumbing, not operator semantics."""
    from ..pipeline.dedup import read_signature_index
    from ..streaming.incdedup import run_index_update_stream

    work = workdir(spark, "tgres_sidx_")
    docs = load_table(spark, sf_dir, "documents")
    docs.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_index_update_stream(
        spark, f"{work}/in", f"{work}/index", f"{work}/ckpt", docs.schema,
        compact_threshold=3,
    )
    return read_signature_index(spark, f"{work}/index").select(
        "doc_id", F.concat_ws("", "sig").alias("sig_cat")
    )


@register(
    "streaming_prep_increment",
    sql=__import__(
        "tgres_spark.pipeline.prep", fromlist=["x"]
    ).prep_increment_sql(),
)
def streaming_prep_increment(spark, sf_dir):
    """The live prep loop end-to-end (round 11,
    streaming/incdedup.run_prep_increment_stream): the corpus
    signature index initializes as generation 0 and the benchmark
    gram index persists once; the increment then arrives as four
    REAL doc_id-ordered micro-batches, each scored against BOTH
    indexes (gopher + decontamination + near-dup) AND writing its own
    signatures back mid-stream — batch N's docs deduplicate against
    batches < N through the index, not through any in-memory state.
    Ordered arrival (monotone doc_id batching: file names and mtimes
    both ascending) makes the accumulated verdicts equal the batch
    prep_increment relation verbatim, which is the oracle."""
    import glob
    import os
    import shutil
    import time

    from ..pipeline.contamination import contamination_index
    from ..pipeline.dedup import INCREMENT_MOD, dedup_index_update
    from ..streaming.incdedup import run_prep_increment_stream

    work = workdir(spark, "tgres_sprep_")
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % INCREMENT_MOD
    dedup_index_update(
        spark, f"{work}/index", docs.where(m != 0), generation=0,
        compact_threshold=10**9,
    )
    contamination_index(docs).write.mode("overwrite").parquet(
        f"{work}/bench"
    )
    inc = docs.where((m == 0) & (F.col("source") != "src0"))
    # monotone doc_id batching: 4 id-quartile files, names AND mtimes
    # ascending so any file-source ordering tie-break agrees
    ids = sorted(r["doc_id"] for r in inc.select("doc_id").collect())
    # ADVICE r11: an empty increment slice would IndexError on ids[-1]
    # below, and duplicate quartile cuts on tiny increments would write
    # empty micro-batch files — fail loudly / dedupe instead.
    if not ids:
        raise ValueError(
            "streaming_prep_increment: empty increment slice "
            f"(doc_id % {INCREMENT_MOD} == 0 AND source != 'src0') "
            "in the documents table — nothing to stream"
        )
    cuts = [ids[max(0, (len(ids) * (i + 1)) // 4 - 1)] for i in range(4)]
    cuts[-1] = ids[-1]
    cuts = sorted(set(cuts))
    os.makedirs(f"{work}/in")
    t0 = time.time() - 3600
    lo = None
    for i, hi in enumerate(cuts):
        part = inc.where(
            (F.col("doc_id") <= hi)
            & (F.lit(True) if lo is None else (F.col("doc_id") > lo))
        )
        part.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp{i}")
        src_file = glob.glob(f"{work}/tmp{i}/part-*.parquet")[0]
        dst = f"{work}/in/{i:02d}.parquet"
        shutil.copyfile(src_file, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
        lo = hi
    run_prep_increment_stream(
        spark, f"{work}/in", f"{work}/index", f"{work}/bench",
        f"{work}/out", f"{work}/ckpt", docs.schema,
    )
    return spark.read.parquet(f"{work}/out/b*").select(
        "doc_id", "gopher_keep", "contaminated", "dup_corpus",
        "dup_increment", "keep",
    )


@register(
    "streaming_pack_increment",
    sql=__import__(
        "tgres_spark.pipeline.prep", fromlist=["x"]
    ).pack_increment_sql(),
)
def streaming_pack_increment(spark, sf_dir):
    """Incremental shard refresh (round 12, the r11 growth edge): the
    training-shard table gets its refresh-class assignment — class 4,
    APPEND-ONLY FROZEN GENERATIONS (streaming/refresh.py
    run_generation_pack): pack_weighted's seeded-hash prefix-sum is
    global, so any cumulative re-pack would reassign shards a
    training run already consumed; instead each arriving doc batch
    packs ONLY its own docs (weights + multiplicities + pack order
    computed within the generation — the documented mixture-drift
    tradeoff, docs/SCALE.md) into NEW shards offset by
    max(prior shard)+1 per lang, and earlier generations' files are
    never rewritten (frozenness mtime-pinned in pytest). Four real
    doc_id-quartile micro-batches (names + mtimes both ascending);
    the oracle replays each generation's full pack_weighted chain on
    its doc subset with the same width-sum offsets."""
    import glob
    import os
    import shutil
    import time

    from ..pipeline import prep as pp
    from ..streaming.refresh import read_generations, run_generation_pack

    work = workdir(spark, "tgres_spack_")
    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    n = len(ids)
    # the floor rule the oracle's gens CASE mirrors: file i holds
    # 1-based doc_id ranks in ((n*i)//4, (n*(i+1))//4]
    cuts = sorted({ids[(n * (i + 1)) // 4 - 1] for i in range(4)})
    os.makedirs(f"{work}/in")
    t0 = time.time() - 3600
    lo = None
    for i, hi in enumerate(cuts):
        part = docs.where(
            (F.col("doc_id") <= hi)
            & (F.lit(True) if lo is None else (F.col("doc_id") > lo))
        )
        part.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp{i}")
        src_file = glob.glob(f"{work}/tmp{i}/part-*.parquet")[0]
        dst = f"{work}/in/{i:02d}.parquet"
        shutil.copyfile(src_file, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
        lo = hi
    run_generation_pack(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", docs.schema,
        pp.pack_weighted,
    )
    return read_generations(spark, f"{work}/out").select(
        "lang", "doc_id", "copy_id", "n_tokens", "shard"
    )


@register(
    "streaming_semdedup_increment",
    sql=__import__(
        "tgres_spark.pipeline.similarity", fromlist=["x"]
    ).dedup_semdedup_increment_sql(),
)
def streaming_semdedup_increment(spark, sf_dir):
    """The EMBEDDING-side crawl loop (round 12, the semantic twin of
    streaming_prep_increment): the corpus vectors (vec_id % 5 != 0)
    initialize the cell index as generation 0; the increment arrives
    as four REAL vec_id-ordered micro-batches, each scored for
    within-cell semantic near-dups against BOTH the index (corpus +
    earlier batches' write-back) and its own batch-mates, then
    writing its vectors back — batch N deduplicates against batches
    < N through the index. Id-rule flags (corpus partner: any;
    increment partner: lower vec_id) + ordered arrival (names and
    mtimes both ascending) make the accumulated verdicts equal the
    batch dedup_semdedup_increment relation verbatim — the oracle."""
    import glob
    import os
    import shutil
    import time

    from ..streaming.incdedup import run_semdedup_increment_stream

    work = workdir(spark, "tgres_ssem_")
    emb = load_table(spark, sf_dir, "embeddings")
    m = F.col("vec_id") % 5
    # generation 0: the corpus side of the index, cell-assigned
    from ..pipeline.similarity import (
        _ivf_codebook, _norm, _sq_dists,
    )

    cents = _ivf_codebook(16, seed=7)
    cdf = literal_df(spark,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )
    (
        emb.where(m != 0)
        .crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", _sq_dists(F.col("cents")).alias("dists"))
        .select(
            "vec_id",
            "embedding",
            F.array_position(F.col("dists"), F.array_min("dists"))
            .cast("bigint")
            .alias("cell"),
            _norm(F.col("embedding")).alias("nrm"),
        )
        .write.mode("overwrite")
        .parquet(f"{work}/idx/g000000")
    )
    inc = emb.where(m == 0).select("vec_id", "embedding")
    ids = sorted(r["vec_id"] for r in inc.select("vec_id").collect())
    if not ids:
        raise ValueError(
            "streaming_semdedup_increment: empty increment slice "
            "(vec_id % 5 == 0) in the embeddings table"
        )
    cuts = [ids[max(0, (len(ids) * (i + 1)) // 4 - 1)] for i in range(4)]
    cuts[-1] = ids[-1]
    cuts = sorted(set(cuts))
    os.makedirs(f"{work}/in")
    t0 = time.time() - 3600
    lo = None
    for i, hi in enumerate(cuts):
        part = inc.where(
            (F.col("vec_id") <= hi)
            & (F.lit(True) if lo is None else (F.col("vec_id") > lo))
        )
        part.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp{i}")
        src_file = glob.glob(f"{work}/tmp{i}/part-*.parquet")[0]
        dst = f"{work}/in/{i:02d}.parquet"
        shutil.copyfile(src_file, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
        lo = hi
    run_semdedup_increment_stream(
        spark, f"{work}/in", f"{work}/idx", f"{work}/out",
        f"{work}/ckpt", inc.schema,
    )
    return spark.read.parquet(f"{work}/out/b*").select(
        "vec_id", "cell", "dup_corpus", "dup_increment", "keep"
    )


@register(
    "streaming_ivf_search",
    sql=__import__(
        "tgres_spark.pipeline.similarity", fromlist=["x"]
    ).ann_ivf_search_maintained_sql(),
)
def streaming_ivf_search(spark, sf_dir):
    """The maintained-index consult path DEPLOYED as a stream (round
    12, streaming/ivfsearch.py): the physical IVF index runs its full
    lifecycle (build + codebook, tombstone compaction, hot-cell
    split, cold-cell merge), then the query set arrives as real
    micro-batches — each batch probes the CURRENT codebook and scans
    only its probed inverted lists, landing per-query top-k under
    out/b<batch_id>. Per-query outputs are index-functions only
    (class 1, per-batch decomposable), so the accumulated outputs
    equal the batch search verbatim — same oracle as
    ann_ivf_search_maintained, and the ONE streaming query with no
    arrival-order caveat."""
    import glob
    import os
    import shutil
    import time

    from ..pipeline import similarity as sim
    from ..streaming.ivfsearch import run_ivf_search_stream

    work = workdir(spark, "tgres_sivf_")
    emb = load_table(spark, sf_dir, "embeddings")
    sim.ann_ivf_index_write_full(spark, f"{work}/index", emb)
    sim.ann_ivf_compact_cells(spark, f"{work}/index")
    # one codebook read + one final publish for the chained pair (r13)
    sim.ann_ivf_split_merge_cells(spark, f"{work}/index")
    q = (
        sim.ann_ivf_index_live(spark, f"{work}/index")
        .where(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
    )
    qids = sorted(r["vec_id"] for r in q.select("vec_id").collect())
    halves = [qids[: len(qids) // 2], qids[len(qids) // 2:]]
    os.makedirs(f"{work}/in")
    t0 = time.time() - 3600
    for i, ids in enumerate(halves):
        part = q.where(F.col("vec_id").isin(ids))
        part.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp{i}")
        src_file = glob.glob(f"{work}/tmp{i}/part-*.parquet")[0]
        dst = f"{work}/in/{i:02d}.parquet"
        shutil.copyfile(src_file, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
    run_ivf_search_stream(
        spark, f"{work}/in", f"{work}/index", f"{work}/out",
        f"{work}/ckpt", q.schema,
    )
    return spark.read.parquet(f"{work}/out/b*").select(
        "query_id", "neighbor_id", "dist", "rank"
    )


@register(
    "streaming_pagerank",
    sql=__import__(
        "tgres_spark.pipeline.graph", fromlist=["x"]
    ).graph_pagerank2_sql(),
)
def streaming_pagerank(spark, sf_dir):
    """Live link-graph centrality over an arriving crawl (round 10):
    PageRank is class 3 of refresh.py's deployment rule — GLOBALLY
    entangled (one new edge shifts every host's rank through the
    normalization and the dangling mass), so per-batch and per-key
    deployments are structurally wrong and the honest shape is the
    cumulative refresh: each doc micro-batch lands idempotently and
    the full two-iteration relation republishes; the latest snapshot
    equals the batch operator over every doc seen, so the batch CTE
    oracle checks the stream verbatim. Four real micro-batches over
    the documents table."""
    from ..pipeline.graph import graph_pagerank2_fixed
    from ..streaming.refresh import (
        read_latest_snapshot, run_cumulative_refresh,
    )

    work = workdir(spark, "tgres_spr_")
    docs = load_table(spark, sf_dir, "documents")
    docs.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_cumulative_refresh(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", docs.schema,
        graph_pagerank2_fixed,
    )
    return read_latest_snapshot(spark, f"{work}/out")


@register("streaming_catalog_compact", sql=_CATALOG_ORACLE_SQL)
def streaming_catalog_compact(spark, sf_dir):
    """Catalog compaction across stream INCARNATIONS (round 9,
    streaming/catalog.compact_catalog — the streaming twin of
    rrd_compact_archive): the graphite firehose is split at its time
    midpoint into two REAL stream runs, each with its own checkpoint
    and catalog generation (a restarted stream's batch ids begin at 0,
    so a fresh incarnation cannot fold into the old generation); the
    compaction job folds the generations in time order into one
    catalog — first_seen kept from the earliest incarnation
    (create-on-first-write one level up), last_seen/n_points merged —
    publishes it under the same write-once manifest protocol, and
    drops the superseded generations. A second compaction is asserted
    a no-op inline (idempotence); the crash-between-snapshot-and-
    pointer window is pinned in tests/test_streaming.py.

    Oracle-checkable against the SAME min/max/count SQL as the live
    catalog because the incarnations split by TIME: every name's
    earliest point lives in the first generation that saw it, so the
    cross-generation first_seen equals the global MIN(t)."""
    from ..streaming.catalog import (
        compact_catalog,
        read_catalog,
        run_catalog_pipeline,
    )

    work = workdir(spark, "tgres_catc_")
    ev = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    good = F.format_string(
        "web.%s.hits %.2f %d",
        F.col("event_type"),
        F.col("value"),
        epoch_s("ts", ev),
    )
    line = F.when(
        F.col("event_id") % 97 == 0, F.lit("not a metric")
    ).otherwise(good)
    lines = ev.select(line.alias("line"), epoch_s("ts", ev).alias("t"))
    lo, hi = lines.agg(F.min("t"), F.max("t")).collect()[0]
    mid = (int(lo) + int(hi)) // 2
    for i, half in enumerate(
        (lines.where(F.col("t") < mid), lines.where(F.col("t") >= mid))
    ):
        half.select("line").coalesce(2).write.mode("overwrite").text(
            f"{work}/in{i}"
        )
        run_catalog_pipeline(
            spark, f"{work}/in{i}", f"{work}/gen{i}", f"{work}/ckpt{i}"
        )
    out = f"{work}/cat"
    first = compact_catalog(spark, [f"{work}/gen0", f"{work}/gen1"], out)
    assert first["n_generations"] == 2
    again = compact_catalog(spark, [f"{work}/gen0", f"{work}/gen1"], out)
    assert again["n_generations"] == 0, "compaction must be idempotent"
    return read_catalog(spark, out)


@register("streaming_dedup_exact", sql=dd_sql.DEDUP_EXACT_SQL)
def streaming_dedup_exact(spark, sf_dir):
    """Streaming exact dedup (streaming/dedup.py): the documents
    corpus dropped as FOUR parquet files, consumed ONE FILE PER
    TRIGGER — four real micro-batches folding count/min keeper state
    across batches — then the final complete-mode state read back.

    Oracle-checkable against the SAME SQL as batch dedup_exact with
    genuine multi-batch execution: count sums and min(doc_id) are
    order-independent state merges, so any batching of the input
    yields the identical keeper relation. Restart/resume semantics are
    pinned in tests/test_streaming.py."""
    from ..model import load_table
    from ..streaming.dedup import run_dedup_stream

    work = workdir(spark, "tgres_sdedup_")
    in_dir = f"{work}/in"
    out_dir = f"{work}/out"
    docs = load_table(spark, sf_dir, "documents")
    docs.coalesce(4).write.mode("overwrite").parquet(in_dir)
    run_dedup_stream(
        spark, in_dir, out_dir, f"{work}/ckpt", docs.schema, files_per_trigger=1
    )
    return spark.read.parquet(out_dir)


_SESSIONIZE_STREAM_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events
), marked AS (
  SELECT user_id, t,
    CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) > 1800
         OR LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM e
), sess AS (
  SELECT user_id, t,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
), g AS (
  SELECT user_id, MIN(t) AS session_start,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    MAX(t) - MIN(t) AS duration_s, MAX(t) AS last_t
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, session_start, n_events, duration_s
FROM g WHERE last_t + 1800 <= (SELECT MAX(t) - 60 FROM e)
"""


@register("streaming_sessionize", sql=_SESSIONIZE_STREAM_SQL)
def streaming_sessionize(spark, sf_dir):
    """Gap-based sessionization as a NATIVE Structured Streaming
    session-window aggregation (streaming/sessionize.py): the events
    table dropped as parquet files, consumed by a watermarked
    session_window(gap=1800s) groupBy on user_id, closed sessions
    appended to parquet and read back.

    Hash-checked in closed form: with one availableNow batch the
    emitted set is exactly {sessions with last_t + gap <= max_t -
    delay} of the batch sessionization (the non-strict boundary and
    the gap<=1800 merge rule are both pinned empirically — Spark
    merges at delta == gap and emits at session_end == watermark).
    Cross-batch interval merging and kill/resume are pinned in
    tests/test_streaming.py with time-ordered file drops."""
    from ..streaming.sessionize import run_sessionize_stream

    work = workdir(spark, "tgres_ssess_")
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", epoch_s("ts", ev).alias("t"))
    e.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_sessionize_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", e.schema
    )
    return spark.read.parquet(f"{work}/out")


@register(
    "streaming_hll_distinct",
    sql=__import__(
        "tgres_spark.operators.sketch", fromlist=["x"]
    ).hll_distinct_sql(
        "SELECT event_type, user_id FROM events", "event_type", "user_id"
    ),
)
def streaming_hll_distinct(spark, sf_dir):
    """The HLL register fold as a STREAMING aggregation
    (streaming/hll.py): events dropped as four parquet files, one
    file per trigger — four real micro-batches max-merging register
    state — then the estimate computed from the final register table.
    Hash-checked against the SAME oracle as batch events_hll_distinct
    because max(rho) state merges are order-independent: any batching
    folds to the identical registers. Bounded state (<= 256 rows per
    group) is the point — exact streaming COUNT(DISTINCT) state grows
    with the key space."""
    from ..operators.sketch import hll_estimate
    from ..streaming.hll import run_hll_stream

    work = workdir(spark, "tgres_shll_")
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_hll_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", ev.schema,
        "event_type", "user_id", files_per_trigger=1,
    )
    regs = spark.read.parquet(f"{work}/out")
    return hll_estimate(regs, ev, "event_type", "user_id")


@register(
    "streaming_hist_quantiles",
    sql=__import__(
        "tgres_spark.operators.sketch", fromlist=["x"]
    ).histogram_quantiles_sql(
        "SELECT event_type, value FROM events", "event_type", "value"
    ),
)
def streaming_hist_quantiles(spark, sf_dir):
    """The mergeable-histogram percentile sketch folded as a STREAMING
    aggregation (streaming/hll.py run_histogram_stream): four real
    micro-batches sum-merge bin counts; the quantile read-off from the
    final bin table hash-matches the batch events_hist_quantiles
    oracle because + is order-independent. Completes the streaming
    sketch trilogy (count/min dedup, max HLL, sum histogram) — every
    mergeable-state family the 100 TB streaming story needs."""
    from ..operators.sketch import quantiles_from_bins
    from ..streaming.hll import run_histogram_stream

    work = workdir(spark, "tgres_shist_")
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_histogram_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", ev.schema,
        "event_type", "value", files_per_trigger=1,
    )
    hist = spark.read.parquet(f"{work}/out")
    return quantiles_from_bins(hist, "event_type")


_INTERVAL_JOIN_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS t FROM events
)
SELECT a.user_id, a.t AS click_t, b.t AS purchase_t,
  b.t - a.t AS lag_s
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.t > a.t AND b.t <= a.t + 3600
"""


@register("streaming_interval_join", sql=_INTERVAL_JOIN_SQL)
def streaming_interval_join(spark, sf_dir):
    """STREAM⋈STREAM click→purchase attribution (streaming/join.py):
    watermarked interval join — the event-time range condition bounds
    each side's join state to the last hour per user. Inner-join
    emission is watermark-independent for on-time rows, so the
    availableNow run hash-matches a plain SQL self-join; the state
    bound, not the result, is what the streaming form buys at scale."""
    from ..streaming.join import run_interval_join_stream

    work = workdir(spark, "tgres_sjoin_")
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", epoch_s("ts", ev).alias("t"))
    e.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_interval_join_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", e.schema
    )
    return spark.read.parquet(f"{work}/out")


_ENRICH_ORACLE_SQL = (
    "WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, "
    "CAST(value AS DOUBLE) AS value FROM events), "
    "d AS (SELECT c_custkey AS user_id, c_mktsegment AS segment FROM customer), "
    "j AS (SELECT d.segment, ((e.t - 1) // 3600) * 3600 + 3600 AS t, "
    "CAST(FLOOR(e.value * 1000000.0 + 0.5) AS BIGINT) AS mv "
    "FROM e JOIN d USING (user_id)), "
    "mx AS (SELECT MAX(t) AS mt FROM e) "
    "SELECT segment, t, CAST(COUNT(*) AS BIGINT) AS n_events, "
    "CAST(SUM(mv) AS DOUBLE) / 1000000.0 AS total "
    "FROM j, mx WHERE j.t <= mx.mt - 61 GROUP BY segment, t"
)


@register("streaming_enrich_join", sql=_ENRICH_ORACLE_SQL)
def streaming_enrich_join(spark, sf_dir):
    """STREAM⋈STATIC enrichment (streaming/enrich.py): the event
    stream joined to the broadcast customer dimension (user_id →
    market segment), then windowed per (segment, 1h slot). The static
    side adds no streaming state; only the downstream aggregation
    holds any. Single availableNow batch ≡ {slots ≤ max(t) − 61}
    under the −1 s slot shift (the streaming_ingest_pipeline closed
    form); batch-equivalence pinned in tests/test_streaming.py."""
    from ..streaming.enrich import run_enrich_stream

    work = workdir(spark, "tgres_senrich_")
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", epoch_s("ts", ev).alias("t"), F.col("value").cast("double")
    )
    e.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    run_enrich_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", e.schema, dim
    )
    return spark.read.parquet(f"{work}/out")


@register(
    "streaming_bloom_filter",
    sql=__import__("tgres_spark.tpch", fromlist=["x"]).bloom_membership_sql(
        "SELECT event_type, user_id FROM events",
        "event_type",
        "user_id",
        __import__("tgres_spark.tpch", fromlist=["x"])._BLOOM_PROBES_SQL,
    ),
)
def streaming_bloom_filter(spark, sf_dir):
    """The Bloom filter folded as a STREAMING aggregation
    (streaming/hll.py run_bloom_stream): four real micro-batches
    OR-merge the 128 word registers per group; the membership read-off
    from the final table hash-matches the batch
    events_bloom_membership oracle because OR merges are
    order-independent AND idempotent — the only sketch state where
    at-least-once replay is provably free (re-OR-ing a batch is a
    no-op), so exactly-once semantics need zero dedup bookkeeping."""
    from ..operators.sketch import bloom_membership
    from ..streaming.hll import run_bloom_stream
    from ..tpch import _bloom_probes_and_exact

    work = workdir(spark, "tgres_sbloom_")
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_bloom_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", ev.schema,
        "event_type", "user_id", files_per_trigger=1,
    )
    sk = spark.read.parquet(f"{work}/out")
    probes, exact = _bloom_probes_and_exact(spark, ev)
    return bloom_membership(sk, probes, exact)


@register(
    "streaming_cms_heavy_hitters",
    sql=__import__(
        "tgres_spark.operators.sketch", fromlist=["x"]
    ).cms_heavy_hitters_sql("SELECT user_id FROM events", "user_id"),
)
def streaming_cms_heavy_hitters(spark, sf_dir):
    """The count-min sketch folded as a STREAMING aggregation
    (streaming/hll.py run_cms_stream): four real micro-batches
    sum-merge the 4x256 cell counters; the heavy-hitter read-off from
    the final sketch hash-matches the batch events_cms_heavy_hitters
    oracle because + merges are order-independent. With this every
    mergeable sketch in the repo (histogram +, HLL max, CMS +) runs
    identically in batch and streaming form — the bounded-state
    frequency story at 100 TB (1024 counters however many keys)."""
    from ..operators.sketch import cms_estimate
    from ..streaming.hll import run_cms_stream

    work = workdir(spark, "tgres_scms_")
    ev = load_table(spark, sf_dir, "events").select("user_id")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_cms_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", ev.schema,
        "user_id", files_per_trigger=1,
    )
    sk = spark.read.parquet(f"{work}/out")
    return cms_estimate(sk, ev, "user_id", topk=20)


@register(
    "streaming_asof_enrich",
    sql=__import__("tgres_spark.tpch", fromlist=["x"])._ASOF_JOIN_SQL,
)
def streaming_asof_enrich(spark, sf_dir):
    """The backward as-of join run STREAMING (streaming/enrich.py
    run_asof_stream): the purchase stream arrives as four real
    micro-batches, each enriched against the static click snapshot in
    foreachBatch. Hash-checks against the SAME oracle as the batch
    events_asof_join because a left row's match depends only on the
    static right side — any micro-batching appends the identical
    relation."""
    from ..model import epoch_s

    work = workdir(spark, "tgres_sasof_")
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id", "event_type", "value",
        epoch_s("ts", ev).alias("t"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "t"
    )
    c = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "t")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    p.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    from ..streaming.enrich import run_asof_stream

    run_asof_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", p.schema,
        c, "user_id", "t", ["purchase_id"], ["click_value"],
    )
    out = spark.read.parquet(f"{work}/out")
    return out.select(
        "user_id",
        "purchase_id",
        F.col("t").alias("purchase_t"),
        F.col("r_t").cast("double").alias("click_t"),
        F.col("r_click_value").alias("click_value"),
        (F.col("t") - F.col("r_t")).cast("double").alias("gap_s"),
    )


@register(
    "streaming_dsir_score",
    sql=__import__(
        "tgres_spark.pipeline.textstats", fromlist=["x"]
    ).dsir_scores_sql(),
)
def streaming_dsir_score(spark, sf_dir):
    """DSIR scoring run STREAMING (streaming/dsir.py): the trained
    one-row model (constant-size hashed-feature map) broadcasts into
    a stateless projection over the crawl stream — zero streaming
    state, no watermark, no aggregation; each doc's weight derives
    in-row. Hash-checks against the SAME per-doc oracle as the batch
    path (dsir_scores_sql) because a doc's score depends only on its
    own text and the static model — any micro-batching appends the
    identical relation."""
    from ..pipeline.textstats import dsir_model_row
    from ..streaming.dsir import run_dsir_stream

    work = workdir(spark, "tgres_sdsir_")
    docs = load_table(spark, sf_dir, "documents")
    model = dsir_model_row(docs)
    crawl = docs.where(F.col("source") != "src0").select("doc_id", "text")
    crawl.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_dsir_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", crawl.schema,
        model,
    )
    return spark.read.parquet(f"{work}/out")


@register(
    "streaming_oov_score",
    sql=__import__(
        "tgres_spark.pipeline.textstats", fromlist=["x"]
    ).oov_doc_scores_sql(),
)
def streaming_oov_score(spark, sf_dir):
    """Per-doc OOV scoring run STREAMING (streaming/oov.py): the
    reference-split vocabulary is a one-row sorted array (constant
    size at any corpus scale), broadcast into a stateless projection
    over the scored-split stream — in-row array algebra, no explode,
    no watermark, zero state. Hash-checks against the batch per-doc
    oracle (oov_doc_scores_sql) because each doc's stats depend only
    on its own text and the static vocab."""
    from ..pipeline.textstats import oov_vocab_row
    from ..streaming.oov import run_oov_stream

    work = workdir(spark, "tgres_soov_")
    docs = load_table(spark, sf_dir, "documents")
    vocab = oov_vocab_row(docs)
    scored = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source", "text"
    )
    scored.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_oov_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", scored.schema,
        vocab,
    )
    return spark.read.parquet(f"{work}/out")


# --- pixel aggregator routes (http/pixel.go:87-145) ------------------------

def pixel_commands(spark, sf_dir):
    """events → pixel aggregator commands, mirroring what the façade's
    /pixel/{add,addgauge,setgauge,append} routes queue: clicks/views
    are counter adds, errors/signups append to timers, purchases hit
    the gauge (every third as a +delta, like the statsd synthesis)."""
    ev = load_table(spark, sf_dir, "events")
    # addgauge (the +delta form) is explicitly purchase-only so this
    # stays in lockstep with the oracle's hardcoded
    # `event_type = 'purchase'` delta predicate even if regenerated
    # testdata ever grows a sixth event_type (which then lands in the
    # setgauge/delta-false bucket in BOTH engines).
    cmd = (
        F.when(F.col("event_type").isin("click", "view"), "add")
        .when(F.col("event_type").isin("error", "signup"), "append")
        .when(
            (F.col("event_type") == "purchase") & (F.col("event_id") % 3 == 0),
            "addgauge",
        )
        .otherwise("setgauge")
    )
    return ev.select(
        cmd.alias("cmd"),
        F.concat(F.lit("px."), F.col("event_type")).alias("name"),
        F.col("value").cast("double").alias("value"),
        epoch_s("ts", ev).alias("t"),
    )


from ..model import sanitize_name_sql as _san_sql  # noqa: E402

PIXEL_PARSED_SQL = (
    "SELECT epoch_ns(ts) // 1000000000 AS t, "
    + _san_sql("'px.' || event_type")
    + " AS name, CAST(value AS DOUBLE) AS value, "
    "CASE WHEN event_type IN ('click', 'view') THEN 'c' "
    "WHEN event_type IN ('error', 'signup') THEN 'ms' "
    "ELSE 'g' END AS metric, 1.0 AS sample, "
    "(event_type = 'purchase' AND event_id % 3 = 0) AS delta FROM events"
)


@register(
    "statsd_pixel_flush",
    sql=(
        flush_counters_sql(PIXEL_PARSED_SQL, FLUSH)
        + " UNION ALL "
        + flush_gauges_sql(PIXEL_PARSED_SQL, FLUSH)
        + " UNION ALL SELECT * FROM ("
        + flush_timers_sql(PIXEL_PARSED_SQL, FLUSH)
        + ")"
    ),
)
def statsd_pixel_flush(spark, sf_dir):
    """The pixel HTTP routes' aggregation loop end-to-end as an
    attested query (round 8): synthesized /pixel/{add,addgauge,
    setgauge,append} commands → aggregator.pixel_agg_parsed (the same
    conversion the façade queue uses) → the SAME statsd_flush engine
    the socket sources share — counter rates, gauge set+delta, timer
    stats, one oracle per flush family (aggregator.go:217-220
    semantics)."""
    from ..aggregator import pixel_agg_parsed, statsd_flush

    return statsd_flush(
        pixel_agg_parsed(pixel_commands(spark, sf_dir)), FLUSH, "stats"
    )


_PIXEL_STREAM_ORACLE_SQL = (
    f"WITH parsed AS ({PIXEL_PARSED_SQL}), "
    "c AS (SELECT * FROM parsed WHERE metric = 'c'), "
    "mx AS (SELECT MAX(t) AS mt FROM c), "
    "slots AS (SELECT name, ((t - 1) // 60) * 60 + 60 AS t, "
    "CAST(FLOOR(value / sample * 1000000.0 + 0.5) AS BIGINT) AS mv FROM c) "
    "SELECT 'stats.' || name AS name, t, "
    "CAST(SUM(mv) AS DOUBLE) / 1000000.0 / 60.0 AS value "
    "FROM slots, mx WHERE t <= mt - 61 GROUP BY name, t"
)


@register("streaming_pixel_flush", sql=_PIXEL_STREAM_ORACLE_SQL)
def streaming_pixel_flush(spark, sf_dir):
    """The façade's /pixel/add counter loop run STREAMING: synthesized
    pixel commands → pixel_agg_parsed (stateless) → watermarked 60s
    counter-rate windows with the micro6 BIGINT fold → parquet. Same
    single-availableNow-batch oracle construction as
    streaming_ingest_pipeline: no row is late, append mode emits
    exactly the windows whose end <= max(t) - 61 (event time t-1,
    60s delay), so the SQL mirrors the slot label, the micro6 rate,
    and the cutoff."""
    import os

    from ..aggregator import pixel_agg_parsed
    from ..streaming.ingest import run_pixel_counter_pipeline

    work = workdir(spark, "tgres_spixel_")
    os.makedirs(f"{work}/in", exist_ok=True)
    parsed = pixel_agg_parsed(pixel_commands(spark, sf_dir))
    parsed.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_pixel_counter_pipeline(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", parsed.schema,
    )
    return spark.read.parquet(f"{work}/out")
