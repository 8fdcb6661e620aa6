"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it describes the run (input properties, op samples, CPU control readings).
Exits non-zero, printing no result, when the repository is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_build", "stream_refresh")


def _repo_ready() -> str | None:
    for rel in ("antnre_spark/pipeline.py", "fixtures/gen_transcripts.py",
                "fixtures/data/weights.npz", "oracle/antnre_oracle.py"):
        if not os.path.exists(os.path.join(REPO, rel)):
            return rel
    return None


def measure(workload: str, seed: int, trace: int, work: str, out_dir: str, tag: str):
    """Start the session, run the workload, stop every process, fold the
    trace. Returns (measured, metrics, detail); output checks are left to
    the caller."""
    from perfbench import launch, layers, procs, spans, workloads

    event_dir = os.path.join(work, "eventlog") if trace else None
    control_pre = procs.cpu_control()
    spark = tracer = None
    try:
        with procs.PeakPss() as pss:
            t0 = time.perf_counter()
            spark = launch.start_spark(REPO, work, f"perfbench-{workload}", event_dir)
            session_s = time.perf_counter() - t0
            if trace:
                tracer = spans.Tracer(spark.sparkContext)
                layers.instrument(tracer)
            run = workloads.Run(spark, tracer, seed, work)
            measured = getattr(workloads, workload)(run, session_s)
            peak_pss_mb = pss.peak_mb
    finally:
        if tracer is not None:
            tracer.restore()
        if spark is not None:
            procs.stop_spark(spark)
    detail = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "input": measured.input,
        "ops": len(measured.ops),
        "op_seconds": [round(o["s"], 4) for o in measured.ops],
        "meaning": measured.meaning,
        "session_s": round(session_s, 3),
    }
    if tracer is not None:  # the event log is complete once Spark stopped
        metrics, detail["trace"] = layers.collect(
            measured, tracer, workload, seed, event_dir, out_dir, tag, launch.usable_cores()
        )
    else:
        metrics = {
            "setup_s": {"value": measured.setup_s, "unit": "s"},
            "throughput_per_s": {"value": measured.throughput_per_s, "unit": "1/s"},
            "op_latency_ms": {"value": measured.op_latency_ms, "unit": "ms"},
            "peak_pss_mb": {"value": peak_pss_mb, "unit": "MB"},
        }
    detail["cpu_control_s"] = {"pre": round(control_pre, 4), "post": round(procs.cpu_control(), 4)}
    return measured, metrics, detail


def result_line(verdicts: list[bool], metrics: dict) -> dict:
    failed = sum(1 for ok in verdicts if not ok)
    return {"correct": failed == 0 and bool(verdicts), "attempted": len(verdicts),
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _repo_ready()
    if missing is not None:
        print(f"perfbench: {missing} not found under {REPO}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    # the checkout root, not this script's directory, leads the path
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    os.chdir(REPO)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(REPO, ".perfbench_work", tag)
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # each workload does a fixed amount of work: --seconds is accepted
        # for the benchmark interface and does not change it
        measured, metrics, detail = measure(args.workload, args.seed, args.trace, work, out_dir, tag)
        # output checks: after timing, never inside a metric
        verdicts = measured.check()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result_line(verdicts, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
