#!/usr/bin/env python3
"""Re-freeze BENCH_BUDGET.json from two bench.py runs.

Budgets describe bench.py's own measurement context: the box, the
scale factor, the materialization and the key list (growing the list
moves hot existing keys through JIT code-cache pressure). So every
budget re-freezes together from one back-to-back pair of idle runs,
as the per-key mean of the pair, under the pair's (sf, cpus,
materialize) key. A pair whose keys or key sets differ is refused.

Usage: python tools/refreeze_budgets.py runA.json runB.json "note text"
Writes BENCH_BUDGET.json in place, keeping tolerance and abs_margin_s,
and replaces its provenance with the two runs'. Keys whose pair spread
exceeds 1.5x are listed on stderr for adjudication before committing.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
KEY = ("sf", "cpus", "materialize")


def last_json(p: str) -> dict:
    return json.loads(Path(p).read_text().strip().splitlines()[-1])


def main() -> int:
    a, b = last_json(sys.argv[1]), last_json(sys.argv[2])
    note = sys.argv[3] if len(sys.argv) > 3 else ""
    bud_p = REPO / "BENCH_BUDGET.json"
    old = json.loads(bud_p.read_text())
    qa, qb = a["queries"], b["queries"]
    ka, kb = ({k: r.get(k) for k in KEY} for r in (a, b))
    if ka != kb or None in ka.values():
        print(f"!! run keys differ or are incomplete: {ka} vs {kb}",
              file=sys.stderr)
        return 2
    if set(qa) != set(qb):
        print("!! run key sets differ", file=sys.stderr)
        return 2
    dropped = sorted(set(old.get("queries") or {}) - set(qa))
    if dropped:
        print(f"!! {len(dropped)} budget keys absent from the runs "
              f"(will be DROPPED): {', '.join(dropped)}", file=sys.stderr)
    spread = {k: max(qa[k], qb[k]) / max(min(qa[k], qb[k]), 1e-9) for k in qa}
    for k, s in sorted(spread.items(), key=lambda kv: -kv[1]):
        if s > 1.5:
            print(f"!! pair spread {s:.2f}x on {k}: {qa[k]} / {qb[k]}",
                  file=sys.stderr)
    bud = {
        "_comment": "Per-query time budgets (sec) for bench.py, valid "
        "only for runs under the same (sf, cpus, materialize) key; "
        "each is the mean of the two runs in provenance. A key violates "
        "when it exceeds both tolerance x budget and budget + "
        "abs_margin_s.",
        **ka,
        "estimator": a["estimator"],
        "runs": a["runs"],
        "tolerance": old.get("tolerance", 1.25),
        "abs_margin_s": old.get("abs_margin_s", 0.15),
        "queries": {k: round((qa[k] + qb[k]) / 2, 3) for k in sorted(qa)},
        "inputs": a.get("inputs"),
        "provenance": {
            "note": note,
            "runs": [{k: r.get(k) for k in (
                "value", "loadavg_1m", "n_pids", "cpu_steal_pct",
                "budget_median_ratio", "budget_mismatch")} for r in (a, b)],
        },
    }
    bud_p.write_text(json.dumps(bud, indent=1) + "\n")
    print(f"re-froze {len(qa)} budgets under {ka}; totals "
          f"{a['value']} / {b['value']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
