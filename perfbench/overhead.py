"""Tracing overhead: runs one workload untraced and traced on the same seed
and prints, for each end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload binlog_apply --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    print(json.dumps({
        name: {
            "untraced": m["value"],
            "traced": traced[f"traced.{name}"]["value"],
            "overhead": traced[f"traced.{name}"]["value"] - m["value"],
            "unit": m["unit"],
        }
        for name, m in plain.items()
    }))


if __name__ == "__main__":
    main()
