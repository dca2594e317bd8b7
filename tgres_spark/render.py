"""Render API: the tgres HTTP surface as library functions.

Reference: http/graphite.go — `/render?target=...&from=...&until=...&
maxDataPoints=...` evaluates each target and returns
`[{"target": name, "datapoints": [[value, ts], ...]}, ...]`;
`/metrics/find?query=...` returns the name tree nodes.

No HTTP server here (the engine is a library over a cluster); these
functions produce exactly the same payloads, so any thin HTTP wrapper
(Flask/our own) is presentation only. graphite-web's JSON shape is the
contract charting UIs expect.

Spark computes the answer; the driver arranges it. A response is a few
thousand points at most, so ``render_json`` and ``find_json`` collect
their result rows once and sort and group them in Python, in Spark's
ascending order (``_asc``). A JVM-side ``orderBy`` would add a range
sampling job that recomputes the whole plan.
"""

from __future__ import annotations

import itertools
import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dsl.evaluator import DslContext, evaluate
from .dsl.find import find
from .dsl.parser import glob_to_regex
from .model import NAME, T, VALUE


def render_df(
    catalog: DataFrame,
    targets: list[str],
    t_from: int | str | None = None,
    t_to: int | str | None = None,
    max_points: int | None = None,
    now: int | None = None,
) -> DataFrame:
    """Evaluate targets → one long frame (target, name, t, value).
    `target` carries the originating expression string so multi-target
    requests stay distinguishable. from/until accept graphite time
    strings ('-1h', 'now', epoch) like the reference's render handler
    (http/graphite.go parseTime); relative forms anchor to ``now``."""
    from functools import reduce

    ctx = DslContext(
        catalog, t_from=t_from, t_to=t_to, max_points=max_points, now=now
    )
    parts = []
    for tgt in targets:
        df = evaluate(ctx, tgt)
        parts.append(df.select(F.lit(tgt).alias("target"), NAME, T, VALUE))
    return reduce(DataFrame.unionAll, parts)


def _asc(x):
    """Sort key of one value in Spark's ascending order: NULL first,
    NaN above every number. Strings compare by code point, which is
    Spark's UTF-8 byte order."""
    if x is None:
        return (0,)
    if isinstance(x, float) and math.isnan(x):
        return (2,)
    return (1, x)


def render_json(
    catalog: DataFrame,
    targets: list[str],
    t_from: int | str | None = None,
    t_to: int | str | None = None,
    max_points: int | None = None,
    now: int | None = None,
) -> str:
    """graphite-web JSON: [{"target": series_name, "datapoints":
    [[value, ts], ...]}], one entry per (target expression, series),
    ordered by expression string then series name, points by (t,
    value). One collect of ``render_df``'s rows; the driver sorts and
    groups them."""
    rows = render_df(catalog, targets, t_from, t_to, max_points, now=now).collect()
    rows.sort(key=lambda r: (r[0], _asc(r[1]), _asc(r[2]), _asc(r[3])))
    out = [
        {"target": name, "datapoints": [[r[3], r[2]] for r in pts]}
        for (_, name), pts in itertools.groupby(rows, key=lambda r: (r[0], r[1]))
    ]
    return json.dumps(out)


def find_json(catalog: DataFrame, query: str) -> str:
    """`/metrics/find` JSON: [{"text": leaf_name, "id": path,
    "leaf": 0/1, "expandable": 0/1}] (graphite-web "treejson"),
    ordered by path.

    Before the ``distinct``, one ``rlike`` keeps the names whose
    leading segments match the glob: the glob's regex, then an
    optional ``.rest``. ``\\R?`` lets a segment end in a line
    terminator, which Java's ``$`` in ``find``'s own regex accepts. It
    keeps a superset of ``find``'s matches, and ``find`` still applies
    its exact predicate on top."""
    names = catalog.select(NAME).where(
        F.col(NAME).rlike("^" + glob_to_regex(query)[1:-1] + r"(?:\R?(?s:\..*))?$")
    )
    rows = sorted(find(names.distinct(), query).collect(), key=lambda r: r["path"])
    out = [
        {
            "text": r["path"].rsplit(".", 1)[-1],
            "id": r["path"],
            "leaf": int(r["is_leaf"]),
            "expandable": 1 - int(r["is_leaf"]),
        }
        for r in rows
    ]
    return json.dumps(out)


def pixel_datapoints(spark: SparkSession, hits: DataFrame) -> DataFrame:
    """http/pixel.go parity: each pixel hit is a count-1 datapoint for
    the metric named in the URL path. hits = (metric string, t bigint)."""
    from .model import sanitize_name

    return hits.select(
        sanitize_name(F.col("metric")).alias(NAME),
        F.col(T),
        F.lit(1.0).alias(VALUE),
    )
