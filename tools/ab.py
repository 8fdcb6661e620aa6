"""Alternating A/B runs of the benchmark: a base revision against this
checkout.

    python3 tools/ab.py --base HEAD --workload stream_refresh --seeds 901-910
    python3 tools/ab.py --base main~1 --workload batch_build \\
        --workload stream_refresh --seeds 1,2,3,4 --trace 0

The base revision is exported with ``git archive`` into a fresh directory
under ``/tmp`` (``--workdir`` to choose another), so a killed run leaves
nothing registered in the repository. The change side is this checkout,
uncommitted edits included. Pair i runs both sides with seed i; the base
runs first on the 1st, 3rd, ... pair and second on the others.

Every run prints one JSON line (side, seed, position in the pair,
correctness, metrics). Then, per workload: each side's incorrect runs
(a run that crashed counts as incorrect) and its failed/attempted ops;
and per metric of ``BENCHMARK.json`` (end-to-end, or per-layer with
``--trace 1``): each side's median and quartiles, the pairs the change
won, the change/base ratio of the medians beside the metric's bound,
and whether the change would count as a gain: no incorrect change run,
no more failed ops than the base, >= 90% of the pairs won, and medians
that differ by more than the base's interquartile range. A metric whose
change median is worse than the base median by more than its bound is
marked ``WORSE THAN BOUND``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export(rev: str, dest: str) -> None:
    """Write the files of ``rev`` into ``dest`` (a detached checkout)."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(root: str, workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "30", "--trace", str(trace)],
        cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = proc.stderr.strip().splitlines()[-3:]
        result = {"correct": False, "attempted": 0, "failed": 0,
                  "metrics": {}, "error": f"exit {proc.returncode}: {tail}"}
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(workload: str, runs: list[dict], metrics: list[dict]) -> None:
    print(f"\n{workload}: {len(runs) // 2} pairs")
    tally = {}
    for side in ("base", "change"):
        mine = [r for r in runs if r["side"] == side]
        incorrect = [r["seed"] for r in mine if not r.get("correct")]
        failed = sum(r.get("failed", 0) for r in mine)
        attempted = sum(r.get("attempted", 0) for r in mine)
        tally[side] = (incorrect, failed)
        print(f"  {side:6} incorrect runs {len(incorrect)}/{len(mine)}"
              f"{f' (seeds {incorrect})' if incorrect else ''}"
              f", failed ops {failed}/{attempted}")
    # a change with an incorrect run or more failed ops gains nothing
    change_sound = not tally["change"][0] and tally["change"][1] <= tally["base"][1]
    print(f"  {'metric':38} {'base q1/med/q3':>28} {'change q1/med/q3':>28}"
          f" {'won':>6} {'ratio':>6} {'bound':>6}  gain")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = {}
        for r in runs:
            val = r["metrics"].get(name, {}).get("value")
            if val is not None:
                pairs.setdefault(r["seed"], {})[r["side"]] = val
        pairs = [p for p in pairs.values() if len(p) == 2]
        if not pairs:
            continue
        base = sorted(p["base"] for p in pairs)
        change = sorted(p["change"] for p in pairs)
        bq, cq = quartiles(base), quartiles(change)
        won = sum((p["change"] < p["base"]) if lower else (p["change"] > p["base"])
                  for p in pairs)
        ratio = cq[1] / bq[1] if bq[1] else float("nan")
        gain = (change_sound and won >= 0.9 * len(pairs)
                and abs(cq[1] - bq[1]) > bq[2] - bq[0])
        bound = m.get("bound")
        worse = bound is not None and (ratio > 1 + bound if lower else ratio < 1 - bound)
        fmt = lambda q: "/".join(f"{v:.6g}" for v in q)
        print(f"  {name:38} {fmt(bq):>28} {fmt(cq):>28} {won:>3}/{len(pairs):<2}"
              f" {ratio:6.3f} {bound if bound is not None else float('nan'):6.2f}"
              f"  {'yes' if gain else 'no'}"
              f"{'  WORSE THAN BOUND' if worse else ''}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="git revision to compare against")
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", help="e.g. 901-910 or 1,2,5")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=None,
                    help="where to export the base (default: a new /tmp dir)")
    ap.add_argument("--from-log", help="summarize the run lines of an earlier "
                    "output instead of running")
    args = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"] + spec["per_layer"]
    if args.from_log:
        with open(args.from_log) as f:
            runs = [json.loads(l) for l in f if l.startswith('{"workload"')]
        for workload in dict.fromkeys(r["workload"] for r in runs):
            summarize(workload, [r for r in runs if r["workload"] == workload],
                      metrics)
        return
    if not (args.base and args.workload and args.seeds):
        ap.error("--base, --workload and --seeds are required to run")
    work = args.workdir or tempfile.mkdtemp(prefix="kg-ab-", dir="/tmp")
    base_root = os.path.join(work, "base")
    export(args.base, base_root)
    roots = {"base": base_root, "change": REPO}
    try:
        for workload in args.workload:
            runs = []
            for i, seed in enumerate(parse_seeds(args.seeds)):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                for pos, side in enumerate(order):
                    res = run_once(roots[side], workload, seed, args.trace)
                    runs.append({"workload": workload, "side": side, "seed": seed,
                                 "position": pos, **res})
                    print(json.dumps(runs[-1]), flush=True)
            summarize(workload, runs, metrics)
    finally:
        shutil.rmtree(base_root, ignore_errors=True)
        if not args.workdir:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
