"""Run-to-run spread of the end-to-end metrics, the figures the bounds in
BENCHMARK.json are set from.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 12]

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its values, median and spread: the distance between
the first and third quartiles (``statistics.quantiles(n=4)``) as a share
of the median. The summary is also written to
``.perfbench/spread/<workload>-<seeds>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import relative_iqr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, required=True)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]

    runs = []
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, check=True, capture_output=True, text=True, timeout=180,
        ).stdout
        result = json.loads(out.strip().splitlines()[-1])
        runs.append(result)
        print(seed, json.dumps({k: v["value"] for k, v in result["metrics"].items()}),
              file=sys.stderr)

    summary = {"workload": args.workload, "seeds": args.seeds, "seconds": seconds,
               "failed": sum(r["failed"] for r in runs),
               "attempted": sum(r["attempted"] for r in runs), "metrics": {}}
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        spread = relative_iqr(values)
        summary["metrics"][m["name"]] = {
            "median": statistics.median(values), "spread": spread, "bound": m["bound"],
            "within_third_of_bound": spread < m["bound"] / 3, "values": values,
        }
    out_dir = os.path.join(ROOT, ".perfbench", "spread")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-{args.seeds[0]}-{args.seeds[-1]}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
