#!/usr/bin/env python3
"""Per-query profiling harness.

For each requested key: warm up once, then time it with the bench
protocol (``tgres_spark/measure.py``: clearCache, best of N, full
materialization through the noop sink), and optionally dump the
formatted physical plan to plans/<tag>/<key>_<suffix>.txt. Runs on
$SPARK_GRAFT_SF_DIR (default sf0.1) at local[$SPARK_GRAFT_CPUS], like
bench.py, so numbers compare with BENCH_*.json entries.

Usage:
  python tools/profile_query.py -k key1,key2 [--runs 3] \
      [--plans plans/r12 --suffix before] [--no-warmup]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-k", "--keys", required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to write <key>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    from tgres_spark import measure
    from tgres_spark.session import get_spark

    import __spark_entry__ as e

    keys = [k for k in args.keys.split(",") if k]
    qs = e.queries()
    unknown = [k for k in keys if k not in qs]
    if unknown:
        print(f"!! unknown keys {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("tgres_profile")

    def build(k):
        return qs[k](spark, SF_DIR)

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for k in keys:
            spark.catalog.clearCache()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                build(k).explain("formatted")
            p = Path(args.plans) / f"{k}_{args.suffix}.txt"
            p.write_text(buf.getvalue())
            print(f"# plan -> {p}", file=sys.stderr)

    if not args.no_warmup:
        measure.warmup(spark, build, keys)
    timed = {k: measure.time_key(spark, build, k, args.runs) for k in keys}
    print(json.dumps({"loadavg": round(os.getloadavg()[0], 2),
                      "timings": {k: t[0] for k, t in timed.items()},
                      "steal_pct": {k: t[1] for k, t in timed.items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
