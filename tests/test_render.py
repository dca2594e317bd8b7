"""Render/find JSON payload parity (http/graphite.go shapes)."""

from __future__ import annotations

import json

import pytest


@pytest.fixture()
def catalog(spark):
    rows = []
    for name in ("web.h1.hits", "web.h2.hits"):
        for t in range(60, 360, 60):
            rows.append((name, t, float(t)))
    return spark.createDataFrame(rows, "name string, t long, value double")


def test_render_json_shape(catalog):
    from tgres_spark.render import render_json

    out = json.loads(render_json(catalog, ["sumSeries(web.*.hits)"]))
    assert len(out) == 1
    assert out[0]["target"] == "sumSeries()"
    pts = out[0]["datapoints"]
    assert pts[0] == [120.0, 60] and pts[-1] == [600.0, 300]


def test_render_multiple_targets(catalog):
    from tgres_spark.render import render_df

    df = render_df(catalog, ["web.h1.hits", "scale(web.h2.hits, 2)"])
    tgts = {r["target"] for r in df.select("target").distinct().collect()}
    assert tgts == {"web.h1.hits", "scale(web.h2.hits, 2)"}


def test_render_respects_range(catalog):
    from tgres_spark.render import render_df

    df = render_df(catalog, ["web.h1.hits"], t_from=120, t_to=240)
    ts = sorted(r["t"] for r in df.collect())
    assert ts == [120, 180, 240]


def test_find_json_tree(catalog):
    from tgres_spark.render import find_json

    nodes = json.loads(find_json(catalog, "web.*"))
    assert {n["id"] for n in nodes} == {"web.h1", "web.h2"}
    assert all(n["leaf"] == 0 and n["expandable"] == 1 for n in nodes)
    leaves = json.loads(find_json(catalog, "web.h1.*"))
    assert leaves == [
        {"text": "hits", "id": "web.h1.hits", "leaf": 1, "expandable": 0}
    ]


def test_render_max_points_consolidates(catalog):
    from tgres_spark.render import render_df

    # 5 points over 240s; maxDataPoints=2 → ~120s step consolidation
    df = render_df(catalog, ["web.h1.hits"], t_from=60, t_to=300, max_points=2)
    rows = sorted(df.collect(), key=lambda r: r["t"])
    assert len(rows) <= 3  # consolidated well below the raw 5 points
    ts = [r["t"] for r in rows]
    assert all(t % 120 == 0 for t in ts)  # 120s slot ends


def test_http_facade_render_and_find(catalog):
    """One real socket round-trip per endpoint: the stdlib HTTP
    façade (http_api.serve) must return byte-identical payloads to
    the library calls it wraps (http/graphite.go's /render and
    /metrics/find surface), plus sane error codes."""
    from urllib.request import urlopen
    from urllib.error import HTTPError

    from tgres_spark.http_api import serve
    from tgres_spark.render import find_json, render_json

    server = serve(catalog, now=300)
    try:
        host, port = server.server_address

        def get(path):
            with urlopen(f"http://{host}:{port}{path}", timeout=60) as r:
                return r.status, r.read().decode()

        st, body = get("/render?target=sumSeries(web.*.hits)&from=-3m&until=now")
        assert st == 200
        assert body == render_json(
            catalog, ["sumSeries(web.*.hits)"], t_from="-3m", t_to="now", now=300
        )
        pts = json.loads(body)[0]["datapoints"]
        assert [p[1] for p in pts] == [120, 180, 240, 300]

        st, body = get("/metrics/find?query=web.*")
        assert st == 200
        assert body == find_json(catalog, "web.*")
        assert {n["id"] for n in json.loads(body)} == {"web.h1", "web.h2"}

        for path, want in (
            ("/render", 400),           # no target
            ("/metrics/find", 400),     # no query
            ("/nope", 404),
        ):
            try:
                st, _ = get(path)
            except HTTPError as e:
                st = e.code
            assert st == want, path

        # pixel endpoint (http/pixel.go): GIF back, count-1 datapoint
        # recorded; name sanitization happens in pixel_datapoints
        with urlopen(
            f"http://{host}:{port}/pixel/app.signup?t=120", timeout=60
        ) as r:
            assert r.status == 200
            assert r.headers["Content-Type"] == "image/gif"
            assert r.read().startswith(b"GIF89a")
        with urlopen(
            f"http://{host}:{port}/pixel/app.signup", timeout=60
        ) as r:
            assert r.status == 200  # no ?t= → server's pinned now=300
        assert server.pixel_hits == [("app.signup", 120), ("app.signup", 300)]
    finally:
        server.shutdown()


def test_pixel_hits_become_datapoints(spark, catalog):
    from tgres_spark.http_api import serve
    from tgres_spark.render import pixel_datapoints
    from urllib.request import urlopen

    server = serve(catalog, now=60)
    try:
        host, port = server.server_address
        for m in ("web hits/page", "web hits/page", "db.io"):
            from urllib.parse import quote

            with urlopen(
                f"http://{host}:{port}/pixel/{quote(m)}", timeout=60
            ) as r:
                assert r.status == 200
        hits = spark.createDataFrame(
            server.pixel_hits, "metric string, t long"
        )
        rows = sorted(
            (r["name"], r["t"], r["value"])
            for r in pixel_datapoints(spark, hits).collect()
        )
        # misc.SanitizeName: whitespace→_, /→-
        assert rows == [
            ("db.io", 60, 1.0),
            ("web_hits-page", 60, 1.0),
            ("web_hits-page", 60, 1.0),
        ]
    finally:
        server.shutdown()


def test_render_relative_from_until(catalog):
    """Graphite-style from=-3m&until=now (parseTime parity) — every
    interactive render request uses these forms."""
    from tgres_spark.render import render_df, render_json

    df = render_df(catalog, ["web.h1.hits"], t_from="-3m", t_to="now", now=300)
    ts = sorted(r["t"] for r in df.collect())
    assert ts == [120, 180, 240, 300]

    out = json.loads(
        render_json(catalog, ["web.h1.hits"], t_from="-4m", t_to="-2m", now=360)
    )
    pts = out[0]["datapoints"]
    assert [p[1] for p in pts] == [120, 180, 240]


def test_http_facade_tail_routes(catalog):
    """/ping (daemon/http.go:45), /events/get_data (http/graphite.go:
    188-195 — the reference stubs annotations to []), and the four
    pixel aggregator routes (http/pixel.go:87-105): pixel always comes
    back, each form pair queues one command, bad values drop the pair
    only."""
    from urllib.request import Request, urlopen

    from tgres_spark.http_api import serve

    server = serve(catalog, now=300)
    try:
        host, port = server.server_address

        def get(path):
            with urlopen(f"http://{host}:{port}{path}", timeout=60) as r:
                return r.status, r.headers["Content-Type"], r.read()

        st, ct, body = get("/ping")
        assert (st, body) == (200, b"OK\n") and ct.startswith("text/plain")
        for p in ("/events/get_data", "/events/get_data/"):
            st, _, body = get(p)
            assert (st, body) == (200, b"[]\n"), p

        # GET with query-string form pairs — one command per pair
        st, ct, body = get("/pixel/add?app.req=1&app.err=2.5")
        assert st == 200 and ct == "image/gif" and body.startswith(b"GIF89a")
        get("/pixel/addgauge?pool.size=-3")
        get("/pixel/setgauge?pool.size=10")
        # bad value drops the pair, never the response (pixel.go
        # recovers and still serves the pixel)
        st, _, body = get("/pixel/append?lat=12.5&lat=oops")
        assert st == 200 and body.startswith(b"GIF89a")

        # POST urlencoded body, like the reference's ParseForm
        req = Request(
            f"http://{host}:{port}/pixel/append",
            data=b"lat=40", method="POST",
        )
        with urlopen(req, timeout=60) as r:
            assert r.status == 200 and r.read().startswith(b"GIF89a")

        assert server.agg_commands == [
            ("add", "app.req", 1.0, 300),
            ("add", "app.err", 2.5, 300),
            ("addgauge", "pool.size", -3.0, 300),
            ("setgauge", "pool.size", 10.0, 300),
            ("append", "lat", 12.5, 300),
            ("append", "lat", 40.0, 300),
        ]
    finally:
        server.shutdown()


def test_pixel_agg_commands_flow_through_statsd_flush(spark, catalog):
    """The queued pixel agg commands flush through the SAME statsd
    engine as the socket sources: add → counter rate, setgauge/addgauge
    → gauge set+delta, append → timer stats (aggregator.go:217-220)."""
    import math

    from tgres_spark.aggregator import pixel_agg_frame, statsd_flush
    from tgres_spark.http_api import serve
    from urllib.request import urlopen

    server = serve(catalog, now=30)
    try:
        host, port = server.server_address
        for path in (
            "/pixel/add?req|s=6",      # name sanitized like statsd
            "/pixel/setgauge?depth=100",
            "/pixel/addgauge?depth=%2B7",   # +7
            "/pixel/addgauge?depth=-2",
            "/pixel/append?lat=10&lat=30",
        ):
            with urlopen(f"http://{host}:{port}{path}", timeout=60) as r:
                assert r.status == 200
        # the handler queues before it sends the pixel, so all 6 are
        # in once the last urlopen returns; the wait is a guard only
        import time as _time

        deadline = _time.monotonic() + 30
        while len(server.agg_commands) < 6 and _time.monotonic() < deadline:
            _time.sleep(0.05)
        assert len(server.agg_commands) == 6
        out = statsd_flush(
            pixel_agg_frame(spark, server.agg_commands), 60
        )
        r = {x["name"]: x for x in out.collect()}
        assert math.isclose(r["stats.reqs"]["value"], 6.0 / 60.0)
        assert r["stats.gauges.depth"]["value"] == 105.0  # 100 +7 -2
        assert r["stats.timers.lat.count"]["value"] == 2.0
        assert r["stats.timers.lat.mean"]["value"] == 20.0
        assert all(x["t"] == 60 for x in r.values())
    finally:
        server.shutdown()


def test_full_pixel_queues_answer_503_and_queue_nothing(catalog, monkeypatch):
    """Both pixel queues stop at http_api.QUEUE_CAP: a request whose
    items do not fit gets a 503 with a JSON error body, and the queue
    is left as it was — no partial queueing of a multi-pair request."""
    from urllib.error import HTTPError
    from urllib.request import urlopen

    from tgres_spark import http_api

    monkeypatch.setattr(http_api, "QUEUE_CAP", 2)
    server = http_api.serve(catalog, now=300)
    try:
        host, port = server.server_address

        def get(path):
            try:
                with urlopen(f"http://{host}:{port}{path}", timeout=60) as r:
                    return r.status, r.read()
            except HTTPError as e:
                return e.code, e.read()

        assert get("/pixel/app.a")[0] == 200
        assert get("/pixel/app.b")[0] == 200
        st, body = get("/pixel/app.c")
        assert st == 503 and "queue full" in json.loads(body)["error"]
        assert server.pixel_hits == [("app.a", 300), ("app.b", 300)]

        assert get("/pixel/add?x=1")[0] == 200
        st, body = get("/pixel/add?y=2&z=3")  # 1 + 2 > 2: none queued
        assert st == 503 and "queue full" in json.loads(body)["error"]
        assert get("/pixel/add?w=4")[0] == 200
        assert server.agg_commands == [("add", "x", 1.0, 300), ("add", "w", 4.0, 300)]
        assert get("/pixel/add?v=5")[0] == 503
    finally:
        server.shutdown()


def test_http_500_body_is_json_when_message_has_quotes(catalog):
    """An evaluation error becomes a 500 whose body parses as JSON,
    even when the message carries both quote characters (a Python
    repr of it would not be JSON)."""
    from urllib.error import HTTPError
    from urllib.parse import quote
    from urllib.request import urlopen

    from tgres_spark.http_api import serve

    server = serve(catalog, now=300)
    try:
        host, port = server.server_address
        target = quote("""scale(web.*.hits,"it's")""")
        with pytest.raises(HTTPError) as err:
            urlopen(f"http://{host}:{port}/render?target={target}", timeout=60)
        assert err.value.code == 500
        msg = json.loads(err.value.read())["error"]
        assert "it's" in msg and '"' in msg
    finally:
        server.shutdown()


@pytest.mark.parametrize(
    "method, path, length",
    [
        ("GET", "/render?target=web.h1.hits&maxDataPoints=abc", None),
        ("GET", "/pixel/app.signup?t=noon", None),
        ("POST", "/pixel/add", "abc"),
        # rfile.read(-1) would block the single-threaded server
        ("POST", "/pixel/add", "-1"),
    ],
    ids=["maxDataPoints", "pixel_t", "content_length_text", "content_length_negative"],
)
def test_http_malformed_argument_answers_400(catalog, method, path, length):
    """A malformed integer argument answers 400 with a JSON error, the
    request queues nothing, and the server keeps serving."""
    from http.client import HTTPConnection

    from tgres_spark.http_api import serve

    server = serve(catalog, now=300)
    conn = HTTPConnection(*server.server_address, timeout=30)
    try:
        conn.putrequest(method, path)
        if length is not None:
            conn.putheader("Content-Length", length)
        conn.endheaders(b"x=1" if method == "POST" else None)
        r = conn.getresponse()
        assert r.status == 400
        assert "must" in json.loads(r.read())["error"]
        conn.close()
        assert server.pixel_hits == [] and server.agg_commands == []
        conn = HTTPConnection(*server.server_address, timeout=30)
        conn.request("GET", "/ping")
        assert conn.getresponse().status == 200
    finally:
        conn.close()  # EOF frees a handler stuck reading the body
        server.shutdown()


def test_as_percent_over_unprojected_partitioned_archive(spark, tmp_path):
    """A partitioned archive frame carries ``day`` and ``bucket`` beside
    ``name, t, value``; the DSL fetch must project them away so a
    fetched series and an aggregate of fetched series union cleanly."""
    from tgres_spark.archive import materialize_archives
    from tgres_spark.render import render_json

    rows = [
        (f"srv.{h}.cpu.{m}", t, v)
        for h in ("h1", "h2")
        for m, v in (("user", 30.0), ("sys", 70.0))
        for t in range(60, 600, 60)
    ]
    sf = spark.createDataFrame(rows, "name string, t long, value double")
    arc = materialize_archives(
        spark, sf, [("avg", 60)], str(tmp_path / "arc"), partitioned=True,
        n_buckets=4,
    )
    catalog = arc.archives[1].df
    assert {"day", "bucket"} <= set(catalog.columns)
    target = ["asPercent(srv.h1*.cpu.user,sumSeries(srv.h1*.cpu.*))"]
    body = render_json(catalog, target)
    assert body == render_json(catalog.select("name", "t", "value"), target)
    out = json.loads(body)
    assert out and all(len(s["datapoints"]) == 9 for s in out)


def _jvm_render_json(catalog, targets, *args, **kw):
    """The JVM-side shaping ``render_json`` had before it moved to the
    driver: groupBy + sorted collect_list + orderBy. Kept as the
    reference the driver-side shaping must equal byte for byte."""
    from pyspark.sql import functions as F

    from tgres_spark.render import render_df

    shaped = (
        render_df(catalog, targets, *args, **kw)
        .groupBy("target", "name")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("t").alias("t"), F.col("value").alias("v")))
            ).alias("pts")
        )
        .orderBy("target", "name")
    )
    return json.dumps(
        [
            {"target": r["name"], "datapoints": [[p["v"], p["t"]] for p in r["pts"]]}
            for r in shaped.collect()
        ]
    )


def _jvm_find_json(catalog, query):
    """``find_json`` before the name prefilter and the driver-side sort."""
    from tgres_spark.dsl.find import find

    rows = find(catalog.select("name").distinct(), query).orderBy("path").collect()
    return json.dumps(
        [
            {
                "text": r["path"].rsplit(".", 1)[-1],
                "id": r["path"],
                "leaf": int(r["is_leaf"]),
                "expandable": 1 - int(r["is_leaf"]),
            }
            for r in rows
        ]
    )


@pytest.fixture()
def odd_catalog(spark):
    """Non-ASCII names whose UTF-16 order differs from code point order
    (U+FF5E sorts before U+1F600 in UTF-8, after it in UTF-16), and a
    series with NULL and NaN values."""
    rows = []
    for name in ("web.h1.hits", "web.h2.hits", "web.é.hits", "web.～.hits",
                 "web.\U0001F600.hits", "web.Z.hits"):
        for t in (60, 120, 180):
            rows.append((name, t, float(t)))
    rows += [("web.nan.hits", 60, None), ("web.nan.hits", 120, float("nan")),
             ("web.nan.hits", 180, 1.0), ("web.nan.hits", 240, None)]
    return spark.createDataFrame(rows, "name string, t long, value double")


@pytest.mark.parametrize(
    "targets",
    [
        # request order differs from the target-string order
        ["web.h2.hits", "scale(web.h1.hits,2)", "web.h1.hits"],
        # the same series name under two targets
        ["web.*.hits", "web.h1.hits"],
        ["web.nan.hits"],
        # group(a, a) yields every (name, t) point twice
        ["group(web.h1.hits,web.h1.hits)"],
        ["web.*.hits"],
    ],
)
def test_render_json_equals_jvm_shaping(odd_catalog, targets):
    from tgres_spark.render import render_json

    body = render_json(odd_catalog, targets)
    assert body == _jvm_render_json(odd_catalog, targets)
    out = json.loads(body)
    assert out
    if targets[0] == "web.h2.hits":
        assert [s["target"] for s in out] == [
            "scale(web.h1.hits,2)", "web.h1.hits", "web.h2.hits",
        ]
    if targets == ["web.nan.hits"]:
        assert "NaN" in body and "null" in body
    if targets[0].startswith("group("):
        assert [p[1] for p in out[0]["datapoints"]] == [60, 60, 120, 120, 180, 180]


@pytest.mark.parametrize(
    "query",
    [
        "x.{a.b,c}",   # a brace alternative containing a dot
        "x.a.*",       # x.a.b is a leaf and a branch; x.a is too short
        "x.*.*.*",     # names with fewer segments than the pattern
        "*",
        "nl.a",        # 'nl.a\n' continues: Java's $ accepts the newline
        "nl.*",
        "nl.a*.*",
        "ü*.*",
    ],
)
def test_find_json_equals_jvm_shaping(spark, query):
    from tgres_spark.render import find_json

    names = ["x", "x.a", "x.a.b", "x.a.b.c", "x.c", "x.c.d", "x.a.bb",
             "nl.a\n.b", "nl.a\nb.c", "nl.a.b\nc", "nl.a", "ü.1", "ü2.x.y"]
    catalog = spark.createDataFrame(
        [(n, 60, 1.0) for n in names], "name string, t long, value double"
    )
    body = find_json(catalog, query)
    assert body == _jvm_find_json(catalog, query)
    nodes = json.loads(body)
    assert nodes or query == "x.*.*.*"
    if query == "x.a.*":
        assert nodes == [
            {"text": "b", "id": "x.a.b", "leaf": 1, "expandable": 0},
            {"text": "bb", "id": "x.a.bb", "leaf": 1, "expandable": 0},
        ]


def _jobs(spark, group, fn):
    """Spark jobs ``fn()`` runs, counted through its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_render_and_find_job_counts(spark, catalog, tmp_path):
    """The driver shapes the JSON from one collect: a render of one
    exact name is a single job, a browse at most two."""
    from tgres_spark.render import find_json, render_json

    catalog.write.parquet(str(tmp_path / "cat"))
    cat = spark.read.parquet(str(tmp_path / "cat"))
    assert _jobs(spark, "test.render.single", lambda: render_json(cat, ["web.h1.hits"])) == 1
    assert _jobs(spark, "test.find", lambda: find_json(cat, "web.*")) <= 2
