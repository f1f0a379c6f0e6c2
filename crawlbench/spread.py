"""Run the benchmark over several seeds and record how far it spreads.

    python3 crawlbench/spread.py --seeds 1-10 --out crawlbench/baseline/set1.json

Run from the root of a checkout. Each workload of BENCHMARK.json runs
once per seed, untraced, one process after another, as `run.py`. For
each end-to-end metric the output gives the ten values, their median
and their spread: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, which
is what a metric's `bound` is held against. Every run's full record
(per-pass samples, steal, box, checks) is kept, and so is each run's
wall time, from which `budget_s` estimates how long the 4 + 22 x
workloads runs of a full evaluation take.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="", help="comma list; default all")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seeds = seed_list(args.seeds)
    out: dict = {"run_seconds": spec["run_seconds"], "seeds": seeds, "workloads": {}}
    for name in names:
        runs = []
        for seed in seeds:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", name,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{name} seed {seed}: exit {proc.returncode}")
            record = json.loads(lines[-2])["record"]
            record["run_wall_s"] = wall
            runs.append(record)
            print(name, seed, f"{wall:.1f}s", json.dumps(json.loads(lines[-1])), flush=True)
        metrics = {}
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            metrics[m["name"]] = {
                "values": vals, "median": statistics.median(vals),
                "spread": spread(vals), "bound": m["bound"],
            }
        out["workloads"][name] = {
            "metrics": metrics,
            "all_correct": all(r["result"]["correct"] for r in runs),
            "median_run_wall_s": statistics.median(r["run_wall_s"] for r in runs),
            "runs": runs,
        }
    walls = [w["median_run_wall_s"] for w in out["workloads"].values()]
    out["budget_s"] = 22 * sum(walls) + 4 * max(walls)
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    for name, w in out["workloads"].items():
        print(name, {k: f"median {v['median']:.4g} spread {v['spread']:.3f}"
                     for k, v in w["metrics"].items()}, "correct", w["all_correct"])
    print(f"estimated evaluation time {out['budget_s']:.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
