"""Repeat the benchmark over seeds and report each end-to-end metric's
median, quartiles and spread (interquartile distance / median).

    python3 perfbench/steady.py --workloads render ingest --seeds 1-10 --json set1.json
    python3 perfbench/steady.py --workloads render ingest --seeds 11-20 --json set2.json \
        --against set1.json

Runs are sequential, one workload at a time, from the checkout root.
The spread of every metric except ``setup_s`` should stay within its
bound in BENCHMARK.json, and preferably below a third of it.
``--against`` compares each median with an earlier set's: the later
median should not be worse by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(s: str) -> list[int]:
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=["render", "ingest"])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--json", help="also write every run and the summary here")
    ap.add_argument("--against", help="an earlier --json record to compare medians with")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    earlier = json.loads(Path(args.against).read_text()) if args.against else {}

    record: dict = {}
    for wl in args.workloads:
        runs = []
        for seed in args.seeds:
            detail, result = run_once(wl, seed, spec["run_seconds"])
            prov = detail["provenance"]
            runs.append({
                "seed": seed,
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "steal_pct": prov["steal_pct"],
                "loadavg_1m": prov["loadavg_1m"],
                "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            })
            print(f"{wl} seed {seed}: steal {prov['steal_pct']:.1f}% "
                  + " ".join(f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()),
                  flush=True)
        summary = {
            name: summarize([r["metrics"][name] for r in runs]) | {"bound": bound}
            for name, bound in bounds.items()
        }
        record[wl] = {"runs": runs, "summary": summary}
        for name, s in summary.items():
            flag = "" if name == "setup_s" or s["spread"] <= s["bound"] else "  OVER BOUND"
            print(f"{wl:7s} {name:12s} median {s['median']:10.4g} "
                  f"q1 {s['q1']:10.4g} q3 {s['q3']:10.4g} "
                  f"spread {s['spread']:.3f} (bound {s['bound']}){flag}")
            if wl in earlier:
                ratio = s["median"] / earlier[wl]["summary"][name]["median"]
                worse = ratio - 1.0 if lower[name] else 1.0 - ratio
                flag = "  WORSE THAN BOUND" if worse > s["bound"] else ""
                print(f"{'':7s} {name:12s} median / earlier median {ratio:.3f}{flag}")
    if args.json:
        Path(args.json).write_text(json.dumps(record, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
