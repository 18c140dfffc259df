#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/sweep.py --workloads crawl queries --seeds 1-10 \
        [--seconds 10] [--trace 0] [--out perfbench/results/NAME.json]

Each run is a separate ``run.py`` process. Before
and after the set, the host references ``calib_s`` (single core) and
``calib_mt_s`` (all cores) are taken with the frozen ``bench.py``'s own
calibration loops, and recorded beside the runs with the core count.
For every end-to-end metric it prints the median and the spread: the
distance between the first and third quartile as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def calibrate() -> dict:
    """bench.py's fixed-work references, imported without editing it."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, str(ROOT))
    import bench

    return {"calib_s": bench._calibrate(), "calib_mt_s": bench._calibrate_mt()}


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    from spans import highest_percentile, median, spread

    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None)
    args = p.parse_args()
    seconds = args.seconds or json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]

    record = {
        "cores": len(os.sched_getaffinity(0)),
        "seconds": seconds,
        "before": calibrate(),
        "runs": [],
    }
    for workload in args.workloads:
        for seed in args.seeds:
            cmd = [
                sys.executable, str(HERE / "run.py"), "--workload", workload,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace),
            ]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                result = {"error": proc.stderr[-2000:]}
            record["runs"].append(
                {"workload": workload, "seed": seed, "exit": proc.returncode,
                 "run_wall_s": wall, **result}
            )
            ok = result.get("correct")
            vals = {k: round(v["value"], 4) for k, v in result.get("metrics", {}).items()
                    if not args.trace}
            print(f"{workload} seed={seed} exit={proc.returncode} correct={ok} "
                  f"wall={wall:.1f}s {vals}", flush=True)
    record["after"] = calibrate()

    summary = {}
    for workload in args.workloads:
        runs = [r for r in record["runs"] if r["workload"] == workload and "metrics" in r]
        for name in (runs[0]["metrics"] if runs else {}):
            values = [r["metrics"][name]["value"] for r in runs]
            if args.trace or len(values) < 2:
                continue
            med, n = median(values)
            summary[f"{workload}.{name}"] = {
                "median": med, "n": n, "spread": spread(values),
                "tail": highest_percentile(values),
            }
    record["summary"] = summary
    for k, v in summary.items():
        tail = "%s %.4f" % v["tail"][:2] if v["tail"] else "no tail percentile"
        print(f"{k:32s} median {v['median']:.4f}  spread {v['spread']:.4f}  {tail}  (n={v['n']})")
    print(json.dumps({"cores": record["cores"], "before": record["before"], "after": record["after"]}))
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
