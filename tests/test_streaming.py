"""Streaming extension (SURVEY.md §2.J): the incremental-KG stream's
foreachBatch extraction and triples match the batch pipeline, and its
micro-batch writes are replay-safe."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from antnre_spark import streaming


@pytest.fixture()
def stream_dirs(tmp_path, spark, transcripts_df):
    """Split the fixture transcripts into two parquet drops."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    first = transcripts_df.filter(F.col("conv_id") < "c000050")
    second = transcripts_df.filter(F.col("conv_id") >= "c000050")
    first.coalesce(1).write.parquet(str(tmp_path / "d1"))
    second.coalesce(1).write.parquet(str(tmp_path / "d2"))
    import shutil

    for d in ("d1", "d2"):
        for f in os.listdir(tmp_path / d):
            if f.endswith(".parquet"):
                shutil.copy(tmp_path / d / f, in_dir / f"{d}_{f}")
    return {"in": str(in_dir), "out": str(tmp_path / "out"), "ckpt": str(tmp_path / "ckpt")}


class TestExtractionStream:
    def test_stream_matches_batch_extraction(
        self, spark, stream_dirs, fixture_paths, transcripts_df
    ):
        """The stream's mentions table equals the staged batch extraction
        (segment_turns -> extract_sentences) over the same raw turns."""
        q = streaming.start_kg_stream(
            spark,
            stream_dirs["in"],
            stream_dirs["out"],
            fixture_paths["weights"],
            fixture_paths["vocab"],
            stream_dirs["ckpt"],
        )
        q.awaitTermination(300)

        from antnre_spark import assemble, extract, segment
        from antnre_spark.icelite import IceLite

        got = IceLite(f"{stream_dirs['out']}/mentions_stream").load(spark)
        assert got is not None

        w_bc, v_bc, key = extract.broadcast_model(
            spark, fixture_paths["weights"], fixture_paths["vocab"]
        )
        sentences = segment.segment_turns(
            assemble.filter_extractable(transcripts_df)
        )
        want = extract.explode_mentions(
            extract.extract_sentences(sentences, w_bc, v_bc, model_key=key)
        )
        # stream processed raw turns (no conversation-level dedup): compare
        # on the batch side without dedup either
        g = {tuple(r) for r in got.drop("batch_id").collect()}
        w = {tuple(r) for r in want.collect()}
        assert g == w

    def test_restart_is_exactly_once(self, spark, stream_dirs, fixture_paths):
        """Restarting the drained stream on the same checkpoint writes no
        mention twice: mention_ids stay unique."""
        for _ in range(2):
            q = streaming.start_kg_stream(
                spark,
                stream_dirs["in"],
                stream_dirs["out"],
                fixture_paths["weights"],
                fixture_paths["vocab"],
                stream_dirs["ckpt"],
            )
            q.awaitTermination(300)
        from antnre_spark.icelite import IceLite

        got = IceLite(f"{stream_dirs['out']}/mentions_stream").load(spark)
        dupes = (
            got.groupBy("mention_id").count().filter(F.col("count") > 1).count()
        )
        assert dupes == 0


class TestKgStream:
    def test_stream_triples_match_batch_link_job(
        self, spark, stream_dirs, fixture_paths, transcripts_df
    ):
        """The incremental-linking stream's final triples/entities tables
        equal the BATCH linking+materialization over the same turns —
        per-batch surface counts and surface-keyed triple partials merge
        exactly (the _salted_triple_agg identity), and relinking the
        merged surfaces reproduces the batch surface map."""
        q = streaming.start_kg_stream(
            spark,
            stream_dirs["in"],
            stream_dirs["out"],
            fixture_paths["weights"],
            fixture_paths["vocab"],
            stream_dirs["ckpt"],
            max_files_per_trigger=1,  # force MULTIPLE micro-batches so
            # the cross-batch partial/surface merging is exercised
        )
        q.awaitTermination(300)

        from antnre_spark import extract, link, materialize
        from antnre_spark.icelite import IceLite

        # batch twin over the SAME input (raw turns, as the stream sees
        # them), using the batch operators end to end
        from antnre_spark import assemble

        w_bc, v_bc, key = extract.broadcast_model(
            spark, fixture_paths["weights"], fixture_paths["vocab"]
        )
        extracted = extract.extract_turns(
            assemble.filter_extractable(transcripts_df), w_bc, v_bc,
            model_key=key,
        ).persist()
        try:
            mentions = extract.explode_mentions(extracted)
            relations = extract.explode_relations(extracted)
            surface_map, entities = link.link_entities(mentions)
            try:
                want_triples = {
                    (r["subj"], r["pred"], r["obj"], r["conf"],
                     r["n_evidence"], tuple(map(tuple, r["provenance"])))
                    for r in materialize.build_triples(
                        relations, surface_map
                    ).collect()
                }
                want_entities = {
                    (r["entity_id"], r["canonical"], r["ent_type"],
                     r["n_mentions"], tuple(r["aliases"]))
                    for r in entities.collect()
                }
            finally:
                surface_map.unpersist()
        finally:
            extracted.unpersist()

        got_t = IceLite(f"{stream_dirs['out']}/triples_stream").load(spark)
        got_e = IceLite(f"{stream_dirs['out']}/entities_stream").load(spark)
        got_triples = {
            (r["subj"], r["pred"], r["obj"], r["conf"],
             r["n_evidence"], tuple(map(tuple, r["provenance"])))
            for r in got_t.drop("part").collect()
        }
        got_entities = {
            (r["entity_id"], r["canonical"], r["ent_type"],
             r["n_mentions"], tuple(r["aliases"]))
            for r in got_e.drop("part").collect()
        }
        assert got_triples == want_triples
        assert len(got_triples) > 100
        assert got_entities == want_entities

    def test_kg_stream_restart_is_idempotent(
        self, spark, stream_dirs, fixture_paths
    ):
        """Running the drained stream again (same checkpoint — no new
        files) must leave the triples table unchanged; and a REPLAYED
        batch (same batch_id, fresh call) must overwrite, not duplicate."""
        from antnre_spark import extract
        from antnre_spark.icelite import IceLite

        for _ in range(2):
            q = streaming.start_kg_stream(
                spark,
                stream_dirs["in"],
                stream_dirs["out"],
                fixture_paths["weights"],
                fixture_paths["vocab"],
                stream_dirs["ckpt"],
            )
            q.awaitTermination(300)
        t1 = sorted(
            tuple(r)
            for r in IceLite(f"{stream_dirs['out']}/triples_stream")
            .load(spark).drop("part").drop("provenance").collect()
        )
        # manual replay of batch 0 with the same batch_id
        w_bc, v_bc, key = extract.broadcast_model(
            spark, fixture_paths["weights"], fixture_paths["vocab"]
        )
        tables = streaming.kg_stream_tables(stream_dirs["out"])
        batch0 = spark.read.parquet(stream_dirs["in"])
        streaming.process_kg_batch(
            batch0, 0, tables, w_bc, v_bc, key
        )
        t2 = sorted(
            tuple(r)
            for r in IceLite(f"{stream_dirs['out']}/triples_stream")
            .load(spark).drop("part").drop("provenance").collect()
        )
        assert t1 == t2


class TestReplayIdempotency:
    def test_replayed_batch_overwrites_not_duplicates(
        self, spark, tmp_path, transcripts_df, fixture_paths
    ):
        """foreachBatch is at-least-once: a crash between the sink writes
        replays the WHOLE batch with the same batch_id. Every phase-1
        table must come out identical, not doubled (link_every is set
        past the batch so only phase 1 runs)."""
        from antnre_spark import extract

        w_bc, v_bc, key = extract.broadcast_model(
            spark, fixture_paths["weights"], fixture_paths["vocab"]
        )
        tables = streaming.kg_stream_tables(str(tmp_path / "kg"))
        phase1 = ("mentions", "relations", "surface_counts", "triple_partials")
        batch = transcripts_df.filter(F.col("conv_id") < "c000020")

        def counts():
            return {t: tables[t].load(spark).count() for t in phase1}

        streaming.process_kg_batch(
            batch, 7, tables, w_bc, v_bc, key, link_every=10**6
        )
        before = counts()
        assert all(n > 0 for n in before.values()), before
        # replay: same batch, same batch_id — must be a no-op for counts
        streaming.process_kg_batch(
            batch, 7, tables, w_bc, v_bc, key, link_every=10**6
        )
        assert counts() == before
        assert tables["triples"].load(spark) is None
        # and mention_ids stay unique (content-position ids + overwrite)
        ids = tables["mentions"].load(spark).select("mention_id")
        assert ids.distinct().count() == before["mentions"]


class TestLinkEveryAmortization:
    def test_link_every_plus_tail_materialize_converges(
        self, spark, stream_dirs, fixture_paths
    ):
        """The amortization knob: with link_every=3 over 2 micro-batches
        the in-stream merge never fires, yet one materialize_kg_stream
        call after draining produces exactly the per-batch-merge
        triples — phase 1 alone carries all durable state."""
        from antnre_spark.icelite import IceLite

        q = streaming.start_kg_stream(
            spark,
            stream_dirs["in"],
            stream_dirs["out"],
            fixture_paths["weights"],
            fixture_paths["vocab"],
            stream_dirs["ckpt"],
            max_files_per_trigger=1,
            link_every=3,
        )
        q.awaitTermination(300)
        # no merge has run mid-stream
        assert IceLite(f"{stream_dirs['out']}/triples_stream").load(spark) is None
        tables = streaming.kg_stream_tables(stream_dirs["out"])
        streaming.materialize_kg_stream(spark, tables)
        amortized = sorted(
            (r["subj"], r["pred"], r["obj"], r["conf"], r["n_evidence"])
            for r in IceLite(f"{stream_dirs['out']}/triples_stream")
            .load(spark).collect()
        )
        # twin run with per-batch merging into a separate sink
        out2 = stream_dirs["out"] + "_perbatch"
        q2 = streaming.start_kg_stream(
            spark,
            stream_dirs["in"],
            out2,
            fixture_paths["weights"],
            fixture_paths["vocab"],
            stream_dirs["ckpt"] + "2",
            max_files_per_trigger=1,
        )
        q2.awaitTermination(300)
        perbatch = sorted(
            (r["subj"], r["pred"], r["obj"], r["conf"], r["n_evidence"])
            for r in IceLite(f"{out2}/triples_stream").load(spark).collect()
        )
        assert amortized == perbatch and len(amortized) > 100


class TestKgStreamEmptyBatches:
    def test_no_mention_batch_does_not_crash(self, spark, tmp_path, fixture_paths):
        """A micro-batch whose turns yield ZERO mentions writes empty
        partitions; IceLite.load then returns None for the all-empty
        tables and process_kg_batch must skip the merge phase instead of
        crashing the stream with AttributeError."""
        import datetime

        from antnre_spark import extract

        w_bc, v_bc, key = extract.broadcast_model(
            spark, fixture_paths["weights"], fixture_paths["vocab"]
        )
        tables = streaming.kg_stream_tables(str(tmp_path / "kg"))
        ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
        batch = spark.createDataFrame(
            [("c0", 0, "user", "the deployment finished without errors .",
              None, ts)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        # template sentence with no gazetteer entities -> no mentions
        streaming.process_kg_batch(batch, 0, tables, w_bc, v_bc, key)
        assert tables["triples"].load(spark) is None
        # a later batch WITH entities still links fine
        batch2 = spark.createDataFrame(
            [("c1", 0, "user", "alice liddell works for acme corp .",
              None, ts)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        streaming.process_kg_batch(batch2, 1, tables, w_bc, v_bc, key)
        ents = tables["entities"].load(spark)
        assert ents is not None and ents.count() >= 2


class TestLinkMarker:
    def test_materialize_skips_when_current(
        self, spark, tmp_path, fixture_paths
    ):
        """The drain-then-materialize idiom must not pay a redundant
        relink when the final micro-batch already linked — the marker
        beside the triples table records the consumed source snapshots
        and a matching call is a no-op; any new batch (or a lost marker)
        relinks."""
        import datetime

        from antnre_spark import extract

        w_bc, v_bc, key = extract.broadcast_model(
            spark, fixture_paths["weights"], fixture_paths["vocab"]
        )
        tables = streaming.kg_stream_tables(str(tmp_path / "kg"))
        ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
        schema = (
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        )
        batch = spark.createDataFrame(
            [("c1", 0, "user", "alice liddell works for acme corp .",
              None, ts)], schema,
        )
        # link_every=1: phase 2 runs inside the batch and writes the marker
        streaming.process_kg_batch(batch, 0, tables, w_bc, v_bc, key,
                                   link_every=1)
        snap0 = tables["triples"].current_snapshot()
        assert snap0 is not None

        # current marker -> no-op (no new snapshot)
        streaming.materialize_kg_stream(spark, tables)
        assert tables["triples"].current_snapshot() == snap0

        # lost marker (a crash before it was written) -> relinks
        # (idempotent content, new snapshot)
        os.remove(streaming._link_marker_path(tables))
        streaming.materialize_kg_stream(spark, tables)
        snap1 = tables["triples"].current_snapshot()
        assert snap1 == snap0 + 1

        # a new phase-1-only batch stales the marker -> next call RUNS
        batch2 = spark.createDataFrame(
            [("c2", 0, "user", "bob marley works for acme corp .",
              None, ts)], schema,
        )
        streaming.process_kg_batch(batch2, 1, tables, w_bc, v_bc, key,
                                   link_every=10**6)
        streaming.materialize_kg_stream(spark, tables)
        assert tables["triples"].current_snapshot() == snap1 + 1
        # and now current again
        streaming.materialize_kg_stream(spark, tables)
        assert tables["triples"].current_snapshot() == snap1 + 1
