"""Tiny-size runs of each workload through ``run.measure`` (a real Spark
session each), the output checks against a corrupted output, and the
refusal to run outside a checkout."""

import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, queries, workloads
from perfbench import run as bench_run
from perfbench.tests.conftest import REPO

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "BATCH_SHAPE", inputs.Shape(turns=100, giant_turns=12))
    monkeypatch.setattr(workloads, "STREAM_SHAPE", inputs.Shape(turns=120, giant_turns=12))


def _measure(tmp_path, workload: str, trace: int):
    work, out = tmp_path / "work", tmp_path / "out"
    work.mkdir()
    out.mkdir()
    return bench_run.measure(workload, 7, trace, str(work), str(out), "test")


def _corrupt_one_file(table_root: str, snapshot: int) -> None:
    """Move one triple's conf by 1e-3 in a data file of ``snapshot``."""
    from antnre_spark.icelite import IceLite

    table = IceLite(table_root)
    entry = next(f for f in table.manifest(snapshot)["files"] if f["rows"] > 0)
    path = os.path.join(table.data_dir, entry["path"])
    data = pq.read_table(path)
    conf = data["conf"].to_pylist()
    conf[0] += 1e-3
    idx = data.schema.get_field_index("conf")
    pq.write_table(data.set_column(idx, "conf", pc.cast(conf, data.schema.field("conf").type)), path)


@pytest.mark.parametrize("workload", bench_run.WORKLOADS)
def test_untraced_run_reports_end_to_end_metrics_and_counts_a_corrupted_output(
    tiny, tmp_path, workload
):
    measured, metrics, detail = _measure(tmp_path, workload, 0)
    assert set(metrics) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in metrics.values())
    assert detail["input"]["turns"] > 0
    verdicts = measured.check()
    assert verdicts and all(verdicts)

    out_root = measured.extra["out_root"]
    if workload == "batch_build":
        from antnre_spark.icelite import IceLite

        triples = os.path.join(out_root, "triples")
        _corrupt_one_file(triples, IceLite(triples).current_snapshot())
    else:
        _corrupt_one_file(os.path.join(out_root, "triples_stream"), measured.ops[-1]["op"])
    verdicts = measured.check()
    line = bench_run.result_line(verdicts, metrics)
    assert line["failed"] >= 1 and line["correct"] is False


@pytest.mark.parametrize("workload", bench_run.WORKLOADS)
def test_traced_run_reports_every_per_layer_metric(tiny, tmp_path, workload):
    measured, metrics, detail = _measure(tmp_path, workload, 1)
    assert set(metrics) == {m["name"] for m in BENCH["per_layer"]}
    assert all(m["value"] >= 0 for m in metrics.values())
    assert 0.9 <= metrics["trace.self_coverage"]["value"] <= 1.1
    assert metrics["icelite.commits"]["value"] > 0
    assert metrics["nnmodel.sent_per_s"]["value"] > 0
    assert metrics["extract.python_run_s"]["value"] > 0
    if workload == "batch_build":
        assert metrics["pipeline.spark_jobs"]["value"] > 0
        assert metrics["kgquery.compile_ms_p50"]["value"] > 0
        assert metrics["icelite.loads"]["value"] == len(queries.SHAPES)
        # the query phase's results are checked too
        verdicts = measured.check()
        assert len(verdicts) == 1 + len(queries.SHAPES) and all(verdicts)
    else:
        assert metrics["streaming.relink_ms_p50"]["value"] > 0
        assert "streaming.relink_ms_p50" not in detail["trace"]["not_exercised"]
    with open(os.path.join(REPO, detail["trace"]["file"])) as fh:
        trace = json.load(fh)
    assert all({"name", "t0", "t1", "parent", "op", "self_s"} <= set(s) for s in trace["spans"])
    os.remove(os.path.join(REPO, detail["trace"]["file"]))


def test_refuses_to_run_without_the_repository(tmp_path):
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", "batch_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
