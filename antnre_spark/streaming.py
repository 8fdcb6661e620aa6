"""Structured-Streaming ingestion (SURVEY.md §2.J).

The reference has no streaming; the v1 obligation is incremental batch
(snapshot diff + idempotent re-extract, antnre_spark/pipeline.py). This
module is the documented streaming extension: one incremental-KG stream
(``start_kg_stream``) runs the SAME stage functions as the batch job
(fused segment+extract ``extract.extract_turns`` -> explode -> surface
counts / triple partials -> link -> materialize) inside ``foreachBatch``,
so its triples equal the batch ``link_job`` over the same turns. A
late-arriving turn lands in whichever micro-batch reads its file; the
batch path picks it up with the next snapshot diff.

Scale notes: file-source streaming scales by input-directory partitioning
(days(ts)/bucket). foreachBatch is at-least-once: a crash between the
sink writes (or before the checkpoint commit) REPLAYS the batch, so the
sink commit must be idempotent — each micro-batch therefore commits with
``overwrite_partitions(df, {"batch_id": [batch_id]})``, replacing its own
batch_id partition on replay instead of appending duplicate rows (an
empty batch output still replaces it). (mention_id being a pure function
of content position makes the rows themselves replay-stable too.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from antnre_spark import assemble, extract
from antnre_spark.icelite import IceLite
from antnre_spark.schema import TRANSCRIPTS


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of transcript turns (one parquet drop per
    micro-batch; schema fixed — no inference in prod paths)."""
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def kg_stream_tables(out_root: str) -> dict[str, IceLite]:
    """The incremental-KG stream's sink tables."""
    return {
        "mentions": IceLite(f"{out_root}/mentions_stream"),
        "relations": IceLite(f"{out_root}/relations_stream"),
        "surface_counts": IceLite(f"{out_root}/surface_counts_stream"),
        "triple_partials": IceLite(f"{out_root}/triple_partials_stream"),
        "triples": IceLite(f"{out_root}/triples_stream"),
        "entities": IceLite(f"{out_root}/entities_stream"),
    }


def _link_marker_path(tables: dict[str, IceLite]) -> str:
    import os

    return os.path.join(
        os.path.dirname(tables["triples"].path), "kg_stream_linked.json"
    )


def materialize_kg_stream(
    spark: SparkSession,
    tables: dict[str, IceLite],
) -> None:
    """Phase 2 of the incremental-KG stream, standalone: merge the
    persisted surface counts, relink, merge the triple partials against
    the fresh surface map, overwrite triples/entities. Deterministic
    from the tables alone (idempotent — safe to run any number of
    times), which is what makes the ``link_every`` amortization knob
    sound: skipped batches lose nothing durable, and one call after the
    stream drains brings the serving tables current.

    A marker file beside the triples table records the
    (surface_counts, triple_partials) snapshot ids the last relink
    consumed; when they match the current snapshots the call is a
    NO-OP, so the drain-then-materialize idiom costs no relink when the
    final micro-batch already relinked (``n_batches % link_every ==
    0``). Crash-safe in both directions: a lost marker just re-runs the
    idempotent relink; a replayed/later batch bumps the source snapshot
    ids so a stale marker never suppresses real work."""
    import json as _json
    import os

    from antnre_spark import link, materialize

    # snapshot ids BEFORE load() pins the file lists: a
    # commit landing between load and key-read would stamp the marker
    # with data the relink never consumed; reading the key first means
    # a racing commit leaves the marker STALE (older id than the data
    # actually read) and the next call re-runs — the safe direction.
    linked_key = {
        "surface_counts": tables["surface_counts"].current_snapshot(),
        "triple_partials": tables["triple_partials"].current_snapshot(),
    }
    per_raw_t = tables["surface_counts"].load(spark)
    if per_raw_t is None:
        return
    marker = _link_marker_path(tables)
    if os.path.exists(marker):
        try:
            with open(marker) as fh:
                if _json.load(fh) == linked_key:
                    return
        except (OSError, ValueError):
            pass  # unreadable marker = just relink
    surfaces = link.merge_surface_counts(per_raw_t.drop("batch_id"))
    surface_map, entities = link.link_surfaces(surfaces)
    try:
        partials_t = tables["triple_partials"].load(spark)
        if partials_t is not None:
            triples = materialize.merge_triple_partials(
                partials_t.drop("batch_id"), surface_map
            )
            tables["triples"].overwrite(triples.withColumn("part", F.lit(0)), ["part"])
        tables["entities"].overwrite(entities.withColumn("part", F.lit(0)), ["part"])
        # marker LAST (after both overwrites): a crash before this line
        # leaves no marker and the next call simply relinks
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(linked_key, fh)
        os.replace(tmp, marker)
    finally:
        surface_map.unpersist()


def process_kg_batch(
    batch_df: DataFrame,
    batch_id: int,
    tables: dict[str, IceLite],
    weights_bc,
    vocab_bc,
    model_key: str,
    link_every: int = 1,
) -> None:
    """One micro-batch of the FULL KG stream: extraction + incremental
    linking + triple materialization, so a stream user need not run the
    batch link_job afterwards.

    Two-phase design:

    1. Batch-local, idempotent-by-batch_id writes: mentions, relations,
       per-raw SURFACE COUNTS (link.surface_counts — the mergeable form
       of the surface table) and surface-keyed TRIPLE PARTIALS
       (materialize.triple_partials — entity ids are global and can be
       re-clustered by later batches, surface keys never change, so
       partials are write-once). A foreachBatch replay overwrites its own
       batch_id partitions instead of appending duplicate rows.
    2. Merge + relink from the PERSISTED tables: merged surface counts ->
       link_surfaces (the same hybrid local/distributed linker as batch)
       -> merge_triple_partials against the CURRENT surface map ->
       overwrite triples/entities. Deterministic from the tables alone,
       so a replayed batch re-derives the identical output — replay-safe
       without coordination.

    Scale: phase 1 touches only the batch; phase 2 shuffles |distinct
    surfaces| + |distinct surface-level triples| — the hub-collapsed
    small end of the pipeline — so per-batch re-materialization is the
    delta+compact shape, not a corpus recompute. ``link_every=K``
    amortizes it further: phase 2 runs on every K-th batch only
    (durability never depends on it — the phase-1 writes are complete),
    and one ``materialize_kg_stream`` call after the stream drains
    brings the serving tables current (scale probe: per-batch merge
    was 4/46.8s of a 100k-turn run)."""
    from antnre_spark import link, materialize

    if batch_df.isEmpty():
        return
    # The model stage. A file-source micro-batch arrives with one
    # partition per ~input file, so the turns are hash-partitioned by
    # conv_id to defaultParallelism first — the same sizing as the batch
    # pipeline: one model task per core. Fewer tasks leave cores idle
    # (the compute-bound UDF once ran on 2 of 32 cores and the stream
    # read 2.1x the batch wall); more tasks each pay the Python worker's
    # fixed per-task cost (~0.25 s measured on a 4-core host: 40 tasks
    # per micro-batch spent 3.4 s of wall on ~0.1 s of model work).
    # The EXTRACTED frame is then repartitioned DOWN (max(2,
    # parallelism/8)) before the persist the sink writes share, so each
    # write schedules a handful of tasks and emits a handful of parquet
    # files instead of one per extraction partition: the small extracted
    # rows cross one cheap round-robin exchange. persist, not
    # localCheckpoint: one forward pass shared by the sink writes, then
    # RELEASED — a localCheckpoint here would leak one persisted RDD per
    # micro-batch for the life of the stream (DataFrame.unpersist cannot
    # release localCheckpoint blocks).
    parallelism = batch_df.sparkSession.sparkContext.defaultParallelism
    turns = assemble.partition_for_extraction(
        assemble.filter_extractable(batch_df), parallelism
    )
    extracted = extract.extract_turns(
        turns, weights_bc, vocab_bc, model_key=model_key,
    ).repartition(max(2, parallelism // 8)).persist()
    try:
        bid = F.lit(batch_id).alias("batch_id")
        own = {"batch_id": [batch_id]}
        mentions = extract.explode_mentions(extracted)
        relations = extract.explode_relations(extracted)
        tables["mentions"].overwrite_partitions(mentions.select("*", bid), own)
        tables["relations"].overwrite_partitions(relations.select("*", bid), own)
        tables["surface_counts"].overwrite_partitions(
            link.surface_counts(mentions).select("*", bid), own
        )
        tables["triple_partials"].overwrite_partitions(
            materialize.triple_partials(relations).select("*", bid), own
        )
    finally:
        extracted.unpersist()

    if (batch_id + 1) % max(link_every, 1) != 0:
        return  # phase 2 amortized to every link_every-th batch
    # materialize_kg_stream handles the all-empty-table case (load()
    # returns None when no batch has yielded mentions yet) and is
    # idempotent from the tables alone
    materialize_kg_stream(batch_df.sparkSession, tables)


def start_kg_stream(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    weights_npz: str,
    vocab_json: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    link_every: int = 1,
) -> StreamingQuery:
    """readStream -> foreachBatch(extract + incremental link/materialize).
    After the stream drains, ``<out_root>/triples_stream`` holds the same
    triples the batch link_job would produce over the same turns
    (tests/test_streaming.py::TestKgStream). ``link_every=K`` amortizes
    the merge/relink phase to every K-th batch; run
    ``materialize_kg_stream`` once after draining to catch the tail."""
    weights_bc, vocab_bc, model_key = extract.broadcast_model(
        spark, weights_npz, vocab_json
    )
    tables = kg_stream_tables(out_root)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_kg_batch(
            batch_df, batch_id, tables, weights_bc, vocab_bc, model_key,
            link_every=link_every,
        )

    return (
        stream_transcripts(spark, input_dir, max_files_per_trigger)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
