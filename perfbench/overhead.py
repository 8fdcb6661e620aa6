"""Tracing overhead: the same seeds untraced and traced, alternating.

    python3 perfbench/overhead.py --seeds 3 [--workload stream_refresh]

Prints, per workload, each pair's untraced ``op_latency_ms``, traced
``trace.op_latency_ms`` and their ratio, and the median ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "30", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=3)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    for workload in args.workload or ("batch_build", "stream_refresh"):
        pairs = []
        for seed in range(1, args.seeds + 1):
            plain = _run(workload, seed, 0)["metrics"]["op_latency_ms"]["value"]
            traced = _run(workload, seed, 1)["metrics"]["trace.op_latency_ms"]["value"]
            pairs.append({"seed": seed, "untraced_ms": plain, "traced_ms": traced,
                          "ratio": traced / plain})
        print(json.dumps({"workload": workload, "pairs": pairs,
                          "median_ratio": statistics.median(p["ratio"] for p in pairs)}))


if __name__ == "__main__":
    main()
