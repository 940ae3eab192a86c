"""Run a workload over several seeds and print each end-to-end metric's
quartile spread ((Q3 - Q1) / median) next to its bound from BENCHMARK.json.

    python3 perfbench/stability.py --workload chat_build --seeds 1-10

Runs one benchmark process at a time, from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    failed = 0
    for seed in seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            failed += 1
            continue
        result = json.loads(out.stdout.strip().splitlines()[-1])
        failed += not result["correct"]
        row = {k: v["value"] for k, v in result["metrics"].items()}
        flag = "" if result["correct"] else " INCORRECT"
        print(f"seed {seed}{flag}: "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for m in spec["end_to_end"]:
        v = values.get(m["name"], [])
        if len(v) >= 2:
            print(f"{m['name']}: median {statistics.median(v):.4g} {m['unit']}, "
                  f"spread {quartile_spread(v):.4f}, bound {m['bound']} "
                  f"(n={len(v)})")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
