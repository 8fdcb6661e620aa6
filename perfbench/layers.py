"""Per-layer metrics of a traced run.

``instrument`` wraps each layer's public functions (from here, not in the
program). ``collect`` folds the spans and the Spark event log into the
per-layer metrics named in ``BENCHMARK.json``; a metric whose layer the
workload does not exercise reads 0 and is listed under ``not_exercised``.
Spans and the folded summary are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import eventlog, inputs, verify
from perfbench.spans import covered, self_times

# layers with spans under an op (assemble only builds lazy plans: no span)
LAYERS = ("pipeline", "extract", "link", "icelite", "streaming")
NNMODEL_SAMPLE = 400
WRITES = ("icelite.overwrite", "icelite.overwrite_partitions", "icelite.append")

PER_LAYER = {
    "pipeline.extract_job_s": "s", "pipeline.link_job_s": "s", "pipeline.spark_jobs": "count",
    "pipeline.driver_idle_share": "ratio", "pipeline.scan_amplification": "ratio",
    "assemble.shuffle_write_mb": "MB", "spark.max_task_skew": "ratio",
    "extract.python_run_s": "s", "extract.python_init_s": "s", "extract.arrow_mb_sent": "MB",
    "extract.arrow_mb_returned": "MB", "extract.model_passes": "ratio",
    "nnmodel.sent_per_s": "1/s",
    "link.link_s": "s", "link.distinct_surfaces": "count", "link.distributed": "count",
    "icelite.commits": "count", "icelite.commit_s": "s", "icelite.files_written": "count",
    "icelite.mb_per_file": "MB", "icelite.loads": "count", "icelite.load_ms_p50": "ms",
    "icelite.files_per_load": "count",
    "streaming.phase1_ms_p50": "ms", "streaming.relink_ms_p50": "ms",
    "streaming.relink_growth": "ratio", "streaming.state_files": "count",
    "streaming.trigger_gap_ms_p50": "ms",
    "kgquery.compile_ms_p50": "ms", "kgquery.exec_ms_p50": "ms",
    "kgquery.spark_jobs_per_query": "count", "kgquery.rows_scanned_per_row_returned": "ratio",
    "spark.task_cpu_util": "ratio", "spark.gc_s": "s", "spark.shuffle_mb": "MB",
    "trace.spans": "count", "trace.self_coverage": "ratio", "trace.op_latency_ms": "ms",
    **{f"self_ms.{layer}": "ms" for layer in LAYERS},
}


# ---------------------------------------------------------------- instrument


def _written(span, snap, args, kwargs) -> None:
    table = args[0]
    prefix = f"snap-{snap}-"
    files = [f for f in table.manifest(snap)["files"] if f["path"].startswith(prefix)]
    span["files"] = len(files)
    span["bytes"] = sum(os.path.getsize(os.path.join(table.data_dir, f["path"])) for f in files)


def _loaded(span, df, args, kwargs) -> None:
    table = args[0]
    snap = kwargs["snapshot"] if "snapshot" in kwargs else (args[2] if len(args) > 2 else None)
    snap = table.current_snapshot() if snap is None else snap
    files = table.manifest(snap)["files"] if snap is not None else []
    pf = kwargs.get("partition_filter") or (args[3] if len(args) > 3 else None)
    if pf:
        files = [f for f in files
                 if all(f["partitions"].get(c) in set(v) for c, v in pf.items())]
    span["files"] = len(files)


def instrument(tracer) -> None:
    from antnre_spark import extract, kgquery, link, pipeline, streaming
    from antnre_spark.icelite import IceLite

    for name in ("full_run", "extract_job", "link_job"):
        tracer.wrap(pipeline, name, f"pipeline.{name}")
    tracer.wrap(extract, "extract_turns", "extract.extract_turns")
    for name in ("link_entities", "link_surfaces", "candidate_pairs"):
        tracer.wrap(link, name, f"link.{name}")
    tracer.wrap(IceLite, "load", "icelite.load", on_return=_loaded)
    for name in ("overwrite", "overwrite_partitions", "append"):
        tracer.wrap(IceLite, name, f"icelite.{name}", on_return=_written)
    tracer.wrap(
        streaming, "process_kg_batch", "streaming.process_kg_batch",
        op_of=lambda a, k: None if tracer.op == "setup" else f"batch{a[1]}",
    )
    tracer.wrap(streaming, "materialize_kg_stream", "streaming.materialize_kg_stream")
    for name in ("bgp_query", "bgp_aggregate", "construct", "describe",
                 "predicate_stats", "predicate_stats_from_manifest"):
        tracer.wrap(kgquery, name, f"kgquery.{name}")


# ---------------------------------------------------------------- collect


def _p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _outermost(spans: list[dict], prefix: str, by_id: dict) -> list[dict]:
    """Spans named ``prefix*`` with no ancestor of the same layer."""
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p is not None and not by_id[p]["name"].startswith(prefix):
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _subtree(spans: list[dict], roots: list[dict]) -> list[dict]:
    ids = {r["id"] for r in roots}
    out = list(roots)
    grew = True
    while grew:
        grew = False
        for s in spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                out.append(s)
                grew = True
    return out


def _job_scope(log, spans: list[dict], windows: list[tuple[float, float]]):
    """Jobs whose span is in ``spans``, or (Spark-described jobs) whose
    submission falls in one of ``windows``; their stages and tasks."""
    ids = {s["id"] for s in spans}
    jobs = [j for j in log.jobs
            if (j.span in ids) or (j.span is None and any(a <= j.submit <= b for a, b in windows))]
    stages = {st for j in jobs for st in j.stages}
    tasks = [t for t in log.tasks if t.stage in stages]
    execs = {j.execution for j in jobs if j.execution is not None}
    return jobs, tasks, [n for n in log.nodes if n.executions & execs]


def _engine(m: dict, log, tasks, nodes, windows, cores: int) -> None:
    wall = sum(b - a for a, b in windows)
    m["spark.task_cpu_util"] = sum(t.cpu_s for t in tasks) / (wall * cores) if wall else 0.0
    m["spark.gc_s"] = sum(t.gc_s for t in tasks)
    m["spark.shuffle_mb"] = sum(t.shuffle_write_bytes for t in tasks) / 2**20
    pandas_nodes = [n for n in nodes if n.name == "MapInPandas"]
    m["extract.python_run_s"] = sum(log.metric(n, "time to run Python workers") for n in pandas_nodes)
    m["extract.python_init_s"] = sum(
        log.metric(n, "time to start Python workers") + log.metric(n, "time to initialize Python workers")
        for n in pandas_nodes
    )
    m["extract.arrow_mb_sent"] = sum(log.metric(n, "data sent to Python workers") for n in pandas_nodes) / 2**20
    m["extract.arrow_mb_returned"] = sum(
        log.metric(n, "data returned from Python workers") for n in pandas_nodes) / 2**20
    m["extract.udf_rows_in"] = sum(eventlog.rows_in(log, n) for n in pandas_nodes)
    m["assemble.shuffle_write_mb"] = sum(
        log.metric(n, "shuffle bytes written") for n in nodes
        if n.name == "Exchange" and "hashpartitioning(conv_id" in n.desc
    ) / 2**20
    # slowest / median task of the stage that spent most time in the model
    run_accs = {n.metrics["time to run Python workers"][0] for n in pandas_nodes}
    by_stage: dict[int, list] = {}
    for t in tasks:
        if run_accs & set(t.accums):
            by_stage.setdefault(t.stage, []).append(t)
    if by_stage:
        stage = max(by_stage.values(), key=lambda ts: sum(t.finish - t.launch for t in ts))
        durs = [t.finish - t.launch for t in stage]
        m["spark.max_task_skew"] = max(durs) / max(statistics.median(durs), 1e-3)


def _icelite(m: dict, spans: list[dict]) -> None:
    writes = [s for s in spans if s["name"] in WRITES]
    loads = [s for s in spans if s["name"] == "icelite.load"]
    m["icelite.commits"] = len(writes)
    m["icelite.commit_s"] = sum(_dur(s) for s in writes)
    files = sum(s.get("files", 0) for s in writes)
    m["icelite.files_written"] = files
    m["icelite.mb_per_file"] = sum(s.get("bytes", 0) for s in writes) / 2**20 / files if files else 0.0
    m["icelite.loads"] = len(loads)
    m["icelite.load_ms_p50"] = _p50(_dur(s) * 1e3 for s in loads)
    m["icelite.files_per_load"] = _p50(s.get("files", 0) for s in loads)


def _distinct_surfaces(mentions_root: str) -> int:
    from oracle.antnre_oracle import _normalize

    mentions = verify.read_icelite(mentions_root)
    if mentions is None:
        return 0
    return len({(t, _normalize(s)) for t, s in zip(mentions["ent_type"], mentions["surface"])})


def _nnmodel(m: dict, rows: list[dict], seed: int) -> dict:
    """Single-thread ``AntNREModel.extract`` over a seeded sample of the
    workload's sentences; returns the sample's description."""
    import numpy as np

    from antnre_spark.nnmodel import AntNREModel
    from perfbench.workloads import VOCAB, WEIGHTS

    sents = inputs.sentences(rows)
    idx = np.random.default_rng(seed).choice(len(sents), size=min(NNMODEL_SAMPLE, len(sents)),
                                             replace=False)
    sample = [sents[int(i)] for i in sorted(idx)]
    model = AntNREModel.from_files(WEIGHTS, VOCAB)
    model.extract(sample[:8])  # first-call allocations out of the timing
    t0 = time.perf_counter()
    model.extract(sample)
    m["nnmodel.sent_per_s"] = len(sample) / (time.perf_counter() - t0)
    return {"sentences": len(sample), "distinct_share": len({tuple(s) for s in sample}) / len(sample)}


def _window(spans: list[dict]) -> list[tuple[float, float]]:
    return [(min(s["t0"] for s in spans), max(s["t1"] for s in spans))] if spans else []


def _dur(s: dict) -> float:
    return s["t1"] - s["t0"]


def _stream(m: dict, spans, out_root: str):
    roots = [s for s in spans if s["name"] == "streaming.process_kg_batch"]
    relinks = [s for s in spans if s["name"] == "streaming.materialize_kg_stream"]
    m["streaming.phase1_ms_p50"] = _p50(
        (_dur(r) - sum(_dur(c) for c in relinks if c["parent"] == r["id"])) * 1e3 for r in roots)
    m["streaming.relink_ms_p50"] = _p50(_dur(s) * 1e3 for s in relinks)
    if relinks:
        m["streaming.relink_growth"] = _dur(relinks[-1]) / _dur(relinks[0])
    m["streaming.trigger_gap_ms_p50"] = _p50((b["t0"] - a["t1"]) * 1e3 for a, b in zip(roots, roots[1:]))
    from antnre_spark.streaming import kg_stream_tables

    tables = kg_stream_tables(out_root)
    m["streaming.state_files"] = sum(
        len(tables[name].manifest(tables[name].current_snapshot())["files"])
        for name in ("mentions", "relations", "surface_counts", "triple_partials")
        if tables[name].current_snapshot() is not None
    )
    return roots


def _pipeline(m: dict, log, jobs, nodes, window, turns: int) -> None:
    b0, b1 = window[0]
    m["pipeline.spark_jobs"] = len(jobs)
    m["pipeline.driver_idle_share"] = 1 - covered([(j.submit, j.end) for j in jobs], b0, b1) / (b1 - b0)
    scans = [n for n in nodes if n.name.startswith("Scan parquet") and "input-" in n.desc]
    m["pipeline.scan_amplification"] = sum(log.metric(n, "number of output rows") for n in scans) / turns


def _queries(m: dict, log, spans, by_id, query_ops) -> list[dict]:
    roots = [s for s in spans if s["name"] == "bench.query"]
    if not roots:
        return []
    q_spans = _subtree(spans, roots)
    compile_ms = {r["id"]: 0.0 for r in roots}
    for s in _outermost(q_spans, "kgquery.", by_id):
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        compile_ms[root["id"]] += _dur(s) * 1e3
    m["kgquery.compile_ms_p50"] = _p50(compile_ms.values())
    m["kgquery.exec_ms_p50"] = _p50(_dur(s) * 1e3 for s in q_spans if s["name"] == "bench.action")
    jobs, _tasks, nodes = _job_scope(log, q_spans, [(s["t0"], s["t1"]) for s in roots])
    m["kgquery.spark_jobs_per_query"] = len(jobs) / len(roots)
    scanned = sum(log.metric(n, "number of output rows") for n in nodes
                  if n.name.startswith("Scan parquet"))
    m["kgquery.rows_scanned_per_row_returned"] = scanned / max(sum(q["rows_returned"] for q in query_ops), 1)
    loads = [s for s in q_spans if s["name"] == "icelite.load"]
    m["icelite.loads"] = len(loads)
    m["icelite.load_ms_p50"] = _p50(_dur(s) * 1e3 for s in loads)
    m["icelite.files_per_load"] = _p50(s.get("files", 0) for s in loads)
    return q_spans


def collect(measured, tracer, workload: str, seed: int, event_dir: str, out_dir: str,
            tag: str, cores: int):
    spans = sorted(tracer.spans, key=lambda s: s["id"])
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    log = eventlog.read(event_dir)
    m = dict.fromkeys(PER_LAYER, 0.0)
    out_root = measured.extra["out_root"]
    rows = measured.extra["rows"]

    if workload == "stream_refresh":
        # micro-batch 0 is the warm-up
        roots = _stream(m, [s for s in spans if str(s["op"]).startswith("batch")
                            and s["op"] != "batch0"], out_root)
        op_spans = _subtree(spans, roots)
        windows = [(s["t0"], s["t1"]) for s in roots]
        mentions_root = os.path.join(out_root, "mentions_stream")
        exercised = ("assemble", "extract", "nnmodel", "link", "icelite", "streaming", "spark")
    else:
        roots = [s for s in spans if s["op"] == "build" and s["parent"] is None]
        op_spans = _subtree(spans, roots)
        windows = _window(roots)
        mentions_root = os.path.join(out_root, "mentions")
        m["pipeline.extract_job_s"] = sum(_dur(s) for s in roots if s["name"] == "pipeline.extract_job")
        m["pipeline.link_job_s"] = sum(_dur(s) for s in roots if s["name"] == "pipeline.link_job")
        exercised = ("pipeline", "assemble", "extract", "nnmodel", "link", "icelite", "kgquery", "spark")

    jobs, tasks, nodes = _job_scope(log, op_spans, windows)
    _engine(m, log, tasks, nodes, windows, cores)
    m["extract.model_passes"] = m.pop("extract.udf_rows_in") / measured.extra["extractable"]
    if workload == "batch_build":
        _pipeline(m, log, jobs, nodes, windows, measured.input["turns"])
    link_spans = _outermost(op_spans, "link.", by_id)
    m["link.link_s"] = sum(_dur(s) for s in link_spans)
    m["link.distributed"] = float(any(s["name"] == "link.candidate_pairs" for s in op_spans))
    m["link.distinct_surfaces"] = _distinct_surfaces(mentions_root)
    _icelite(m, op_spans)
    q_spans = _queries(m, log, spans, by_id, measured.extra.get("queries", []))
    nn_sample = _nnmodel(m, rows, seed)

    op_wall = sum(o["s"] for o in measured.ops)
    m["trace.spans"] = len(op_spans) + len(q_spans)
    m["trace.self_coverage"] = sum(selfs[s["id"]] for s in op_spans) / op_wall
    m["trace.op_latency_ms"] = measured.op_latency_ms
    for s in op_spans:
        m[f"self_ms.{s['name'].split('.')[0]}"] += selfs[s["id"]] * 1e3 / len(measured.ops)

    not_exercised = sorted(
        k for k in PER_LAYER
        if k.split(".")[0] not in exercised and not k.startswith(("trace.", "self_ms."))
    )
    summary = {
        "spans": [{**s, "self_s": selfs[s["id"]]} for s in spans],
        "per_layer": m,
        "not_exercised": not_exercised,
        "nnmodel_sample": nn_sample,
    }
    path = os.path.join(out_dir, f"{tag}-trace.json")
    with open(path, "w") as fh:
        json.dump(summary, fh, default=str)
    metrics = {k: {"value": float(m[k]), "unit": u} for k, u in PER_LAYER.items()}
    return metrics, {"file": os.path.relpath(path), "not_exercised": not_exercised,
                     "nnmodel_sample": nn_sample}
