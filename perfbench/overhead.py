"""Tracing overhead: run one workload and seed untraced, then traced, and
print each end-to-end metric of both runs and their difference.

    python3 perfbench/overhead.py --workload serve_zipf --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, seed: int, seconds: int, trace: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    return [json.loads(line) for line in out[-2:]]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    _, plain = run(args.workload, args.seed, args.seconds, 0)
    detail, _ = run(args.workload, args.seed, args.seconds, 1)
    traced = detail["traced_end_to_end"]
    rows = {}
    for name, m in plain["metrics"].items():
        rows[name] = {
            "untraced": m["value"], "traced": traced[name],
            "overhead": traced[name] - m["value"], "unit": m["unit"],
        }
    print(json.dumps(rows, indent=1))


if __name__ == "__main__":
    main()
