"""The closed-loop workloads, one client each.

Each workload function takes a ``Run`` (session, tracer, seed, work dir)
and returns a ``Measured``: the set-up time, one record per op, the
throughput and latency it defines, input properties, and the output checks
to run once timing is over. Checks never run inside a timed region or
inside set-up.

Sizes are small on purpose: one run pays a JVM start and a cold first
Spark job (~30 s together on 4 cores), and 22 runs of each workload must
fit the benchmark's time budget.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

from perfbench import inputs, queries, verify

WEIGHTS = os.path.join("fixtures", "data", "weights.npz")
VOCAB = os.path.join("fixtures", "data", "vocab.json")

# stream_refresh: drop files, one micro-batch each; the first is the warm-up
STREAM_SHAPE = inputs.Shape(turns=900, giant_turns=100)
STREAM_FILES = 3
# batch_build: one cold extract_job + link_job
BATCH_SHAPE = inputs.Shape(turns=600, giant_turns=100)
BATCH_BUCKETS = 1
# input generation is repeated inside a run and its median counts in setup_s
SETUP_REPEATS = 3


@dataclass
class Run:
    spark: object
    tracer: object  # spans.Tracer or None
    seed: int
    work: str


@dataclass
class Measured:
    setup_s: float
    ops: list[dict]
    throughput_per_s: float
    op_latency_ms: float
    meaning: dict
    input: dict
    check: Callable[[], list[bool]]  # one verdict per op, run after timing
    extra: dict


def _set_op(run: Run, op) -> None:
    if run.tracer is not None:
        run.tracer.op = op


def _span(run: Run, name: str):
    return run.tracer.span(name) if run.tracer is not None else contextlib.nullcontext()


def _median_setup(step, repeats: int = SETUP_REPEATS):
    """Run a set-up step ``repeats`` times into fresh outputs; return
    (median seconds, last result)."""
    times, result = [], None
    for i in range(repeats):
        t0 = time.perf_counter()
        result = step(i)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), result


def _extractable(tbl) -> int:
    """Turns the model reads: user/assistant roles with text."""
    df = tbl.to_pandas()
    return int((df["role"].isin(["user", "assistant"]) & (df["text"].fillna("") != "")).sum())


def _await(query) -> None:
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")


# -------------------------------------------------------------- stream_refresh


def stream_refresh(run: Run, session_s: float) -> Measured:
    """The first micro-batch is the warm-up: it pays the cold start and is
    counted in set-up; each later micro-batch is one op."""
    from antnre_spark import streaming

    def make_input(i):
        rows, gaz = inputs.corpus(STREAM_SHAPE, run.seed)
        rows = inputs.without_duplicate(rows)
        drop = os.path.join(run.work, f"drops-{i}")
        return rows, gaz, inputs.write_drop_dir(rows, drop, STREAM_FILES), drop

    gen_s, (rows, gaz, fed, drop) = _median_setup(make_input)

    out_root = os.path.join(run.work, "kg")
    _set_op(run, "stream")
    t_start = time.time()
    query = streaming.start_kg_stream(
        run.spark, drop, out_root, WEIGHTS, VOCAB, os.path.join(run.work, "ckpt"),
        max_files_per_trigger=1, link_every=1,
    )
    _await(query)
    _set_op(run, "post")
    progress = sorted(query.recentProgress, key=lambda p: p.batchId)
    if len(progress) != STREAM_FILES:
        raise RuntimeError(f"expected {STREAM_FILES} micro-batches, saw {len(progress)}")

    triples_root = os.path.join(out_root, "triples_stream")
    batches = []
    for p in progress:
        started = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        committed = os.stat(os.path.join(triples_root, "manifests", f"snap-{p.batchId}.json")).st_mtime
        batches.append({"op": p.batchId, "s": committed - started, "t0": started,
                        "t_end": committed, "rows": p.numInputRows})
    warm, ops = batches[0], batches[1:]
    setup_s = session_s + gen_s + (warm["t_end"] - t_start)
    turns = sum(o["rows"] for o in ops)

    def check() -> list[bool]:
        """Triples after micro-batch k == oracle over drops 0..k."""
        drops = [d.to_pandas() for d in fed]
        with verify.memoized_model():
            return [
                verify.triples_digest(verify.read_icelite(triples_root, snapshot=o["op"]))
                == verify.triples_digest(
                    verify.oracle_triples(pd.concat(drops[: o["op"] + 1]), WEIGHTS, VOCAB)
                )
                for o in ops
            ]

    props = inputs.properties(rows, gaz, n_files=STREAM_FILES)
    return Measured(
        setup_s=setup_s,
        ops=ops,
        throughput_per_s=turns / (ops[-1]["t_end"] - warm["t_end"]),
        op_latency_ms=statistics.median(o["s"] for o in ops) * 1e3,
        meaning={
            "throughput_per_s": "turns of micro-batches 1.. / (last triples_stream commit"
                                " - warm-up batch commit)",
            "op_latency_ms": f"median micro-batch start -> triples_stream commit, n={len(ops)}",
        },
        input=props,
        check=check,
        extra={"out_root": out_root, "rows": rows, "warmup_batch_s": warm["s"],
               "extractable": sum(_extractable(d) for d in fed[1:])},
    )


# ----------------------------------------------------------------- batch_build


def batch_build(run: Run, session_s: float) -> Measured:
    """One op: a cold extract_job + link_job into a fresh out_root. A traced
    run then runs the kg_query sequence over the KG it built (per-layer
    numbers only; no end-to-end metric comes from it)."""
    from antnre_spark.pipeline import PipelineConfig, extract_job, link_job

    def make_input(i):
        rows, gaz = inputs.corpus(BATCH_SHAPE, run.seed)
        path = os.path.join(run.work, f"input-{i}.parquet")
        return rows, gaz, inputs.write_batch_input(rows, path), path

    gen_s, (rows, gaz, tbl, path) = _median_setup(make_input)
    setup_s = session_s + gen_s

    kg_root = os.path.join(run.work, "kg")
    cfg = PipelineConfig(
        out_root=kg_root, weights_npz=WEIGHTS, vocab_json=VOCAB, n_buckets=BATCH_BUCKETS,
    )
    _set_op(run, "build")
    t0 = time.perf_counter()
    extract_job(run.spark, run.spark.read.parquet(path), cfg, resume=False)
    link_job(run.spark, cfg)
    wall = time.perf_counter() - t0
    _set_op(run, "post")
    ops = [{"op": "build", "s": wall}]
    queries_run = _query_phase(run, kg_root) if run.tracer is not None else []

    def check() -> list[bool]:
        kg = verify.read_icelite(os.path.join(kg_root, "triples"))
        kg_ok = verify.triples_digest(kg) == verify.triples_digest(
            verify.oracle_triples(tbl.to_pandas(), WEIGHTS, VOCAB)
        )
        return [kg_ok] + [
            kg_ok
            and verify.rows_digest(queries.result_rows(q["result"], q["spec"], kg_root))
            == verify.rows_digest(queries.expected(kg, q["spec"]))
            for q in queries_run
        ]

    props = inputs.properties(rows, gaz, n_files=1)
    return Measured(
        setup_s=setup_s,
        ops=ops,
        throughput_per_s=props["turns"] / wall,
        op_latency_ms=wall * 1e3,
        meaning={
            "throughput_per_s": "input turns / build wall (extract_job + link_job)",
            "op_latency_ms": "build wall, 1 op",
        },
        input=props,
        check=check,
        extra={"out_root": kg_root, "rows": rows, "queries": queries_run,
               "extractable": _extractable(tbl)},
    )


def _query_phase(run: Run, kg_root: str) -> list[dict]:
    """The kg_query sequence, one closed-loop client: each op is
    ``IceLite(triples).load`` + the kgquery call + one action."""
    kg = verify.read_icelite(os.path.join(kg_root, "triples"))
    ops = []
    for i, q in enumerate(queries.sequence(kg, run.seed)):
        _set_op(run, f"query{i}")
        t = time.perf_counter()
        with _span(run, "bench.query"):
            result = queries.execute(run.spark, kg_root, q["spec"], _span(run, "bench.action"))
        ops.append({"op": f"query{i}", "s": time.perf_counter() - t, **q, "result": result})
    _set_op(run, "post")
    for o in ops:
        o["rows_returned"] = queries.rows_returned(o["result"], o["spec"], kg_root)
    return ops
