"""Streaming extension (SURVEY.md §2.J): the incremental-KG stream's
foreachBatch extraction and triples match the batch pipeline; watermarked
session windows count correctly."""

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


class TestSessionWindows:
    def test_watermarked_sessions(self, spark, tmp_path, transcripts_df):
        """Append mode emits only CLOSED sessions: a later-batch sentinel
        event advances the watermark past the conversation so both planted
        sessions (the >1h idle gap splits c000007) close and emit."""
        import shutil
        from datetime import datetime, timezone

        from antnre_spark.schema import TRANSCRIPTS

        conv = transcripts_df.filter(F.col("conv_id") == "c000007")
        in_dir = tmp_path / "sess_in"
        in_dir.mkdir()

        def drop_file(df, name):
            d = tmp_path / name
            df.coalesce(1).write.parquet(str(d))
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    shutil.copy(d / f, in_dir / f"{name}_{f}")

        drop_file(conv, "batch1")

        out_dir = str(tmp_path / "sess_out")

        def run_pass():
            stream = streaming.stream_transcripts(spark, str(in_dir))
            sessions = streaming.streaming_session_counts(stream, gap_minutes=30)
            q = (
                sessions.writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            return (
                spark.read.parquet(out_dir)
                .filter(F.col("conv_id") == "c000007")
                .collect()
            )

        first = run_pass()
        sentinel = spark.createDataFrame(
            [
                (
                    "zz_sentinel", 0, "user", "flush .", None,
                    datetime(2025, 1, 1, tzinfo=timezone.utc),
                )
            ],
            TRANSCRIPTS,
        )
        drop_file(sentinel, "batch2")
        second = run_pass()

        got = {(r["session_start"], r["n_turns"]) for r in second or first}
        assert len(got) == 2
        assert sum(n for _, n in got) == conv.count()


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


class TestStatefulAssembly:
    """applyInPandasWithState custom stateful operator: streaming document
    assembly with event-time timeout (watermark-driven) and a max_turns
    state cap (SURVEY.md §2.J; the north-star's 'custom stateful
    operators' surface)."""

    def test_timeout_and_cap_emission(self, spark, tmp_path):
        import shutil
        import time as _time
        from datetime import datetime

        from antnre_spark.schema import TRANSCRIPTS

        base = datetime(2026, 1, 1, 12, 0, 0)

        def t(sec):
            return datetime.fromtimestamp(base.timestamp() + sec)

        in_dir = tmp_path / "in"
        in_dir.mkdir()

        def drop(name, rows):
            staging = tmp_path / f"stage_{name}"
            spark.createDataFrame(rows, TRANSCRIPTS).coalesce(1).write.parquet(
                str(staging)
            )
            for f in os.listdir(staging):
                if f.endswith(".parquet"):
                    shutil.copy(staging / f, in_dir / f"{name}.parquet")
            _time.sleep(1.1)  # distinct mtimes -> deterministic file order

        # drop 1: conv A (4 turns, out of order on purpose) + conv D
        # (5 turns -> cap of 3 emits immediately, 2 stay in flight)
        drop(
            "d1",
            [("A", i, "user", w, None, t(i)) for i, w in
             [(1, "b"), (0, "a"), (3, "d"), (2, "c")]]
            + [("D", i, "user", f"w{i}", None, t(i)) for i in range(5)],
        )
        # drop 2: conv B 2h later -> watermark passes A/D timeouts
        drop("d2", [("B", 0, "user", "hello", None, t(7200))])
        # drop 3: conv C 4h later -> watermark passes B's timeout
        drop("d3", [("C", 0, "user", "late", None, t(14400))])

        turns = (
            spark.readStream.schema(TRANSCRIPTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        docs = streaming.streaming_assemble_documents(
            turns, gap_seconds=1800, max_turns=3, watermark="10 seconds"
        )
        q = (
            docs.writeStream.format("memory")
            .queryName("assembled_docs")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        got = {
            (r["conv_id"], r["closed_by"]): (r["n_turns"], r["doc_text"])
            for r in spark.sql("SELECT * FROM assembled_docs").collect()
        }
        # A has 4 turns > max_turns=3: a cap doc of the FIRST 3 BY
        # turn_idx (despite shuffled arrival), then the remainder times out
        assert got[("A", "cap")] == (3, "a b c")
        assert got[("A", "timeout")] == (1, "d")
        # D: cap doc with the first 3, remainder timed out later
        assert got[("D", "cap")] == (3, "w0 w1 w2")
        assert got[("D", "timeout")] == (2, "w3 w4")
        # B: flushed by C's watermark advance (no-data batch timeout)
        assert got[("B", "timeout")] == (1, "hello")
        # C: still in flight -> not emitted
        assert ("C", "timeout") not in got and ("C", "cap") not in got

    @pytest.mark.parametrize("dedupe", [True, False])
    def test_replayed_duplicate_turns(self, spark, tmp_path, dedupe):
        """An at-least-once source re-delivering the SAME turn rows (a
        replayed file) must not double the assembled document.
        dropDuplicatesWithinWatermark on (conv_id, turn_idx) ahead of the
        stateful assembler absorbs the replay; the dedupe=False leg proves
        this test actually detects the hole the operator closes (turns
        double without it)."""
        import shutil
        import time as _time
        from datetime import datetime

        from antnre_spark.schema import TRANSCRIPTS

        base = datetime(2026, 5, 1, 8, 0, 0)

        def t(sec):
            return datetime.fromtimestamp(base.timestamp() + sec)

        in_dir = tmp_path / "in"
        in_dir.mkdir()

        def drop(name, rows):
            staging = tmp_path / f"stage_{name}"
            spark.createDataFrame(rows, TRANSCRIPTS).coalesce(1).write.parquet(
                str(staging)
            )
            for f in os.listdir(staging):
                if f.endswith(".parquet"):
                    shutil.copy(staging / f, in_dir / f"{name}.parquet")
            _time.sleep(1.1)

        rows = [
            ("A", i, "user", w, None, t(i))
            for i, w in [(0, "a"), (1, "b"), (2, "c")]
        ]
        drop("d1", rows)
        drop("d2", rows)  # the replayed delivery — identical rows
        drop("d3", [("B", 0, "user", "later", None, t(7200))])  # flush A

        turns = (
            spark.readStream.schema(TRANSCRIPTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        docs = streaming.streaming_assemble_documents(
            turns, gap_seconds=1800, max_turns=100,
            watermark="10 seconds", dedupe=dedupe,
        )
        qname = f"replay_docs_{dedupe}"
        q = (
            docs.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            (r["conv_id"], r["closed_by"]): (r["n_turns"], r["doc_text"])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
        if dedupe:
            assert got[("A", "timeout")] == (3, "a b c")
        else:
            assert got[("A", "timeout")][0] == 6  # the hole, undefended

    def test_state_survives_restart(self, spark, tmp_path):
        """GroupState persists in the checkpoint: a stream stopped after
        the first drop and RESTARTED as a new query (same checkpoint) must
        resume the in-flight conversation and emit it on timeout — the
        resume guarantee a long-running 10^12-turn ingest depends on."""
        import shutil
        import time as _time
        from datetime import datetime

        from antnre_spark.schema import TRANSCRIPTS

        base = datetime(2026, 3, 1, 9, 0, 0)

        def t(sec):
            return datetime.fromtimestamp(base.timestamp() + sec)

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        out_dir = str(tmp_path / "docs_out")
        ckpt = str(tmp_path / "ckpt")

        def drop(name, rows):
            staging = tmp_path / f"stage_{name}"
            spark.createDataFrame(rows, TRANSCRIPTS).coalesce(1).write.parquet(
                str(staging)
            )
            for f in os.listdir(staging):
                if f.endswith(".parquet"):
                    shutil.copy(staging / f, in_dir / f"{name}.parquet")
            _time.sleep(1.1)

        def run_stream():
            turns = (
                spark.readStream.schema(TRANSCRIPTS)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(in_dir))
            )
            docs = streaming.streaming_assemble_documents(
                turns, gap_seconds=600, max_turns=100, watermark="5 seconds"
            )
            q = (
                docs.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        # phase 1: only conversation R's turns exist; it stays in flight
        drop("p1", [("R", i, "user", w, None, t(i)) for i, w in
                    [(1, "two"), (0, "one"), (2, "three")]])
        run_stream()
        first = spark.read.schema(
            "conv_id string, n_turns int, doc_text string, closed_by string"
        ).parquet(out_dir)
        assert first.filter(F.col("conv_id") == "R").count() == 0

        # phase 2: later drops advance the watermark past R's timeout;
        # a brand-new query on the same checkpoint must recover R's state
        drop("p2", [("S", 0, "user", "later", None, t(3600))])
        drop("p3", [("T", 0, "user", "latest", None, t(7200))])
        run_stream()
        rows = {
            r["conv_id"]: (r["n_turns"], r["doc_text"], r["closed_by"])
            for r in spark.read.parquet(out_dir).collect()
        }
        assert rows["R"] == (3, "one two three", "timeout")
        assert rows["S"][2] == "timeout"  # flushed by T's watermark
        assert "T" not in rows            # still in flight


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
