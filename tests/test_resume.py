"""Resume idempotence (SURVEY.md §5.2.5; BASELINE.json:6): a run killed
after k buckets resumes by processing ONLY uncommitted buckets, final
tables are identical to an uninterrupted run, and re-running a complete
pipeline is a no-op with zero duplicate triples. Late-arriving turns
(second snapshot) re-extract only the affected buckets."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from antnre_spark.pipeline import PipelineConfig, bucket_of, extract_job, link_job


@pytest.fixture()
def cfg_factory(fixture_paths, tmp_path):
    def make(name: str) -> PipelineConfig:
        return PipelineConfig(
            out_root=str(tmp_path / name),
            weights_npz=fixture_paths["weights"],
            vocab_json=fixture_paths["vocab"],
            n_buckets=4,
        )

    return make


def triple_set(spark, cfg):
    t = cfg.table("triples").load(spark)
    return {
        (r["subj"], r["pred"], r["obj"], r["n_evidence"]) for r in t.collect()
    }


class TestResume:
    def test_kill_after_partial_then_resume(self, spark, transcripts_df, cfg_factory):
        interrupted = cfg_factory("interrupted")
        # simulate a crash: only buckets 0,1 commit
        extract_job(spark, transcripts_df, interrupted, buckets=[0, 1])
        assert interrupted.markers().committed("extract") == {"0", "1"}

        # resume: must process exactly the remaining buckets
        stats = extract_job(spark, transcripts_df, interrupted)
        assert stats["buckets_run"] == 2
        link_job(spark, interrupted)

        fresh = cfg_factory("fresh")
        extract_job(spark, transcripts_df, fresh)
        link_job(spark, fresh)
        assert triple_set(spark, interrupted) == triple_set(spark, fresh)

    def test_rerun_is_noop(self, spark, transcripts_df, cfg_factory):
        cfg = cfg_factory("noop")
        extract_job(spark, transcripts_df, cfg)
        again = extract_job(spark, transcripts_df, cfg)
        assert again["buckets_run"] == 0

    def test_no_duplicate_mentions_after_forced_rerun(
        self, spark, transcripts_df, cfg_factory
    ):
        cfg = cfg_factory("forced")
        extract_job(spark, transcripts_df, cfg)
        # force bucket 0 re-extract (resume=False) — overwrite semantics
        extract_job(spark, transcripts_df, cfg, buckets=[0], resume=False)
        m = cfg.table("mentions").load(spark)
        dupes = (
            m.groupBy("mention_id").count().filter(F.col("count") > 1).count()
        )
        assert dupes == 0


class TestLateSnapshot:
    def test_late_turns_reextract_only_affected_buckets(
        self, spark, transcripts_df, fixture_paths, cfg_factory
    ):
        cfg = cfg_factory("late")
        extract_job(spark, transcripts_df, cfg)

        late = spark.read.parquet(fixture_paths["transcripts_late"])
        affected = [
            r["bucket"]
            for r in late.select(
                bucket_of(F.col("conv_id"), cfg.n_buckets).alias("bucket")
            )
            .distinct()
            .collect()
        ]
        merged = transcripts_df.unionByName(late)
        stats = extract_job(spark, merged, cfg, buckets=affected, resume=False)
        assert stats["buckets_run"] == len(affected)

        # full recompute from merged input must agree exactly
        fresh = cfg_factory("late_fresh")
        extract_job(spark, merged, fresh)
        for tbl in ("mentions", "relations"):
            a = cfg.table(tbl).load(spark)
            b = fresh.table(tbl).load(spark)
            ca = {tuple(r) for r in a.drop("bucket").collect()}
            cb = {tuple(r) for r in b.drop("bucket").collect()}
            assert ca == cb


class TestEmptyBucket:
    def test_nonextractable_bucket_commits_marker_and_resumes(
        self, spark, cfg_factory
    ):
        """A bucket whose turns are all non-extractable writes NO mention
        files (IceLite.load returns None) — the marker must still commit so
        resume doesn't redo the bucket forever."""
        import datetime

        from antnre_spark.schema import TRANSCRIPTS

        rows = [
            (
                f"c{i:03d}",
                0,
                "tool",  # filtered out by filter_extractable
                "tool output, never extracted",
                "search",
                datetime.datetime(2026, 1, 1, 12, 0, 0),
            )
            for i in range(8)
        ]
        df = spark.createDataFrame(rows, TRANSCRIPTS)
        cfg = cfg_factory("empty-buckets")
        s1 = extract_job(spark, df, cfg)
        assert s1["buckets_run"] == 4 and s1["mentions"] == 0
        assert cfg.markers().committed("extract") == {"0", "1", "2", "3"}
        # the observed write counts read 0 (the writes still run a job,
        # so the Observations are filled and obs.get cannot block)
        assert {m["output_rows"] for m in cfg.markers().rows("extract")} == {0}
        s2 = extract_job(spark, df, cfg)  # resume: nothing left to do
        assert s2["buckets_run"] == 0

    def test_reextract_to_no_rows_replaces_the_bucket(
        self, spark, transcripts_df, cfg_factory
    ):
        """Re-extracting a bucket whose turns are now all non-extractable
        must leave that bucket with NO mentions or relations: the writes
        name the bucket they replace, so an empty output still drops the
        previous run's rows instead of keeping them live beside a marker
        that reads 0."""
        cfg = cfg_factory("reextract-empty")
        extract_job(spark, transcripts_df, cfg)

        def rows_in_bucket0():
            return {
                tbl: cfg.table(tbl).load(spark).filter(F.col("bucket") == 0).count()
                for tbl in ("mentions", "relations")
            }

        before = rows_in_bucket0()
        assert before["mentions"] > 0 and before["relations"] > 0, before
        in_bucket0 = bucket_of(F.col("conv_id"), cfg.n_buckets) == 0
        tooled = transcripts_df.withColumn(
            "role", F.when(in_bucket0, F.lit("tool")).otherwise(F.col("role"))
        )
        stats = extract_job(spark, tooled, cfg, buckets=[0], resume=False)
        assert stats["buckets_run"] == 1 and stats["mentions"] == 0
        assert rows_in_bucket0() == {"mentions": 0, "relations": 0}
        marker = [
            r for r in cfg.markers().rows("extract") if r["partition_key"] == "0"
        ]
        assert [m["output_rows"] for m in marker] == [0]
        # the other buckets keep their rows
        assert cfg.table("mentions").load(spark).count() > 0


class TestCacheSweep:
    def test_full_run_leaves_no_persistent_rdds(
        self, spark, transcripts_df, fixture_paths, tmp_path
    ):
        """pipeline.full_run owns every
        cache it creates — the per-bucket checkpointed forward pass, the
        linking surface map, and the checkpointed triples DF are all
        released before return, so a long-lived session that runs the
        pipeline repeatedly accumulates NO persistent RDDs (net-zero
        against whatever other fixtures already persisted)."""
        from antnre_spark.pipeline import PipelineConfig, full_run

        cfg = PipelineConfig(
            out_root=str(tmp_path / "sweep_out"),
            weights_npz=fixture_paths["weights"],
            vocab_json=fixture_paths["vocab"],
            n_buckets=2,
        )
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        full_run(spark, transcripts_df, cfg)
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after == before
        # and a resumed re-run (no-op buckets) is just as clean
        full_run(spark, transcripts_df, cfg)
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


class TestModelVersioning:
    def test_mixed_model_resume_refused_and_registry(
        self, spark, transcripts_df, fixture_paths, tmp_path
    ):
        """A resume that would extract NEW buckets
        with a DIFFERENT model than the committed ones must refuse
        (mentions from two models in one table are silently
        inconsistent); resume=False re-extracts all idempotently; and
        register_model parks the trained npz + a stage='model' marker
        under the output root."""
        import numpy as np

        from antnre_spark.pipeline import PipelineConfig, extract_job, register_model

        out = str(tmp_path / "mixed")
        cfg = PipelineConfig(
            out_root=out,
            weights_npz=fixture_paths["weights"],
            vocab_json=fixture_paths["vocab"],
            n_buckets=2,
        )
        extract_job(spark, transcripts_df, cfg, buckets=[0])

        # a different (valid) weights file -> different model_hash
        with np.load(fixture_paths["weights"]) as z:
            w = {k: z[k] for k in z.files}
        w["emit_b"] = w["emit_b"] + np.float32(0.001)
        npz2 = str(tmp_path / "weights_v2.npz")
        np.savez(npz2, **w)
        cfg2 = PipelineConfig(
            out_root=out,
            weights_npz=npz2,
            vocab_json=fixture_paths["vocab"],
            n_buckets=2,
        )
        assert cfg2.model_hash and cfg2.model_hash != cfg.model_hash
        with pytest.raises(RuntimeError, match="mixed-model resume"):
            extract_job(spark, transcripts_df, cfg2)  # bucket 1 still todo
        # same model resumes fine; new model with resume=False re-extracts
        stats = extract_job(spark, transcripts_df, cfg)
        assert stats["buckets_run"] == 1
        stats2 = extract_job(spark, transcripts_df, cfg2, resume=False)
        assert stats2["buckets_run"] == 2

        # registry: content-addressed npz + stage='model' marker
        h = register_model(out, npz2, note="test")
        assert h == cfg2.model_hash
        assert os.path.exists(os.path.join(out, "models", f"{h}.npz"))
        rows = cfg2.markers().rows("model")
        assert [r["model_hash"] for r in rows] == [h]


class TestRelink:
    def test_relink_replaces_triples_the_new_mentions_drop(
        self, spark, transcripts_df, fixture_paths, cfg_factory, tmp_path
    ):
        """link_job recomputes every derived table from all mentions, so a
        relink must replace them whole. Re-extracting every bucket with a
        model that never predicts Work_For and relinking must leave no
        old Work_For triple behind (a partition overwrite kept every
        pred=Work_For/bucket=* file the new triples no longer fill): the
        triples and the link marker's count equal a fresh run's."""
        import numpy as np

        from antnre_spark.nnmodel import REL_TYPES

        with np.load(fixture_paths["weights"]) as z:
            w = {k: z[k] for k in z.files}
        w["rel_b2"] = w["rel_b2"].copy()
        w["rel_b2"][REL_TYPES.index("Work_For")] -= 1000.0
        npz = str(tmp_path / "no_work_for.npz")
        np.savez(npz, **w)

        def with_weights(cfg):
            return PipelineConfig(
                out_root=cfg.out_root,
                weights_npz=npz,
                vocab_json=cfg.vocab_json,
                n_buckets=cfg.n_buckets,
            )

        cfg = cfg_factory("relink")
        extract_job(spark, transcripts_df, cfg)
        link_job(spark, cfg)
        assert any(p == "Work_For" for _s, p, _o, _n in triple_set(spark, cfg))

        relinked = with_weights(cfg)
        extract_job(spark, transcripts_df, relinked, resume=False)
        stats = link_job(spark, relinked)

        fresh = with_weights(cfg_factory("relink_fresh"))
        extract_job(spark, transcripts_df, fresh)
        link_job(spark, fresh)
        expected = triple_set(spark, fresh)
        assert not any(p == "Work_For" for _s, p, _o, _n in expected)
        assert triple_set(spark, relinked) == expected
        n_fresh = fresh.table("triples").total_rows()
        assert stats["triples"] == n_fresh
        marker = relinked.markers().rows("link_materialize")[-1]
        assert marker["triple_count"] == n_fresh
