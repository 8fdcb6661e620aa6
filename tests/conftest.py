"""Shared test fixtures: one SparkSession, fixture data, and a single
end-to-end pipeline+oracle run reused by parity tests (SURVEY.md §5.2)."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE_DIR = os.path.join(REPO, "fixtures", "data")


def _ensure_fixtures() -> None:
    needed = ["transcripts.parquet", "gazetteer.json", "weights.npz", "vocab.json"]
    if all(os.path.exists(os.path.join(FIXTURE_DIR, n)) for n in needed):
        return
    from fixtures.gen_transcripts import write_dataset
    from fixtures.gen_weights import write_fixture

    write_dataset(FIXTURE_DIR, "tiny")
    write_fixture(os.path.join(FIXTURE_DIR, "gazetteer.json"), FIXTURE_DIR)


_ensure_fixtures()


@pytest.fixture(scope="session")
def spark():
    from antnre_spark.session import get_spark

    s = get_spark("antnre-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_paths() -> dict:
    return {
        "dir": FIXTURE_DIR,
        "transcripts": os.path.join(FIXTURE_DIR, "transcripts.parquet"),
        "transcripts_late": os.path.join(FIXTURE_DIR, "transcripts_late.parquet"),
        "gold": os.path.join(FIXTURE_DIR, "gold_annotations.parquet"),
        "gazetteer": os.path.join(FIXTURE_DIR, "gazetteer.json"),
        "weights": os.path.join(FIXTURE_DIR, "weights.npz"),
        "vocab": os.path.join(FIXTURE_DIR, "vocab.json"),
    }


@pytest.fixture(scope="session")
def transcripts_df(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["transcripts"])


@pytest.fixture(scope="session")
def oracle_result(fixture_paths):
    from oracle.antnre_oracle import run_oracle

    transcripts = pd.read_parquet(fixture_paths["transcripts"])
    return run_oracle(
        transcripts, fixture_paths["weights"], fixture_paths["vocab"]
    )


@pytest.fixture(params=["ivf", "lsh", "exact"])
def batch_topk(request):
    """Each batch top-k function of simsearch in turn, as
    ``f(corpus, queries, k)`` -> (query_id, vec_id, cosine, rank); the
    ANN ones first build their index over the corpus."""
    from antnre_spark import simsearch

    def run(corpus, queries, k):
        if request.param == "ivf":
            cents = simsearch.kmeans_centroids(
                corpus, n_centroids=4, sample_size=8
            )
            idx = simsearch.ivf_index(corpus, cents)
            return simsearch.ivf_topk_batch(idx, queries, cents, k=k)
        if request.param == "lsh":
            dim = len(corpus.first()["embedding"])
            idx = simsearch.bucketed_index(corpus, dim=dim)
            return simsearch.bucketed_topk_batch(idx, queries, dim=dim, k=k)
        return simsearch.cosine_topk_batch(corpus, queries, k=k)

    run.method = request.param
    return run


@pytest.fixture(scope="session")
def pipeline_out(spark, transcripts_df, fixture_paths, tmp_path_factory):
    """One full distributed run on the tiny fixture, shared by parity tests."""
    from antnre_spark.pipeline import PipelineConfig, full_run

    out_root = str(tmp_path_factory.mktemp("kg_out"))
    cfg = PipelineConfig(
        out_root=out_root,
        weights_npz=fixture_paths["weights"],
        vocab_json=fixture_paths["vocab"],
        n_buckets=4,
    )
    stats = full_run(spark, transcripts_df, cfg)
    return {"cfg": cfg, "stats": stats}
