"""End-to-end jobs with per-partition resume (SURVEY.md §3.2-§3.3).

kg_extract:  transcripts -> documents -> sentences -> mentions + relations
kg_link:     mentions -> entity linking -> triples + vertices + metrics

Partitioning strategy (SURVEY.md §4.3.6): conv_id is bucketed with
pmod(xxhash64(conv_id), N). Extraction is conversation-local, so from the
C1 assembly shuffle through mention/relation explode there is no further
shuffle; outputs are written bucket-partitioned so the linking job and any
re-extract can prune by bucket. Each bucket commits an IcebergLite
overwrite_partitions snapshot + a marker; a killed run resumes by
anti-joining planned buckets against committed markers and redoing only the
missing ones — overwrite semantics make the redo idempotent (0 duplicate
rows), tested in tests/test_resume.py.

At 10^12-turn scale the same layout holds: days(ts) x bucket(conv_id, N)
with N sized so one bucket's turns fit one executor's batch pipeline; the
driver loop over buckets becomes a loop over (day, bucket) slices.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from antnre_spark import assemble, extract, link, materialize
from antnre_spark.icelite import IceLite
from antnre_spark.metrics import MarkerStore


@dataclass
class PipelineConfig:
    out_root: str
    weights_npz: str
    vocab_json: str
    n_buckets: int = 8
    # mention-confidence mode: 'local' (frozen golden-output default) or
    # 'marginal' (true CRF posterior marginal; see nnmodel
    # .extract_mentions). Spans are identical either way.
    conf_mode: str = "local"
    model_hash: str = field(default="")
    # real-Iceberg cutover (DEPLOY.md §Iceberg cutover): set to a
    # "catalog.db" namespace on a session with an Iceberg catalog
    # configured and every pipeline table routes through
    # iceberg_adapter.IcebergTable instead of the IceLite layer. None
    # (default) keeps the parquet+manifest facade — the sandbox path.
    iceberg_namespace: str | None = None

    def __post_init__(self) -> None:
        if not self.model_hash and os.path.exists(self.weights_npz):
            with open(self.weights_npz, "rb") as f:
                self.model_hash = hashlib.sha256(f.read()).hexdigest()[:16]

    def table(self, name: str):
        if self.iceberg_namespace:
            from pyspark.sql import SparkSession

            from antnre_spark.iceberg_adapter import IcebergTable

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "iceberg_namespace is set but no active SparkSession "
                    "exists — construct the session before the pipeline"
                )
            return IcebergTable(spark, f"{self.iceberg_namespace}.{name}")
        return IceLite(os.path.join(self.out_root, name))

    def markers(self) -> MarkerStore:
        return MarkerStore(os.path.join(self.out_root, "_markers"))


def bucket_of(col: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def register_model(out_root: str, weights_npz: str, note: str = "") -> str:
    """Register a trained weights file under the pipeline output root:
    copy it to <out_root>/models/<model_hash>.npz and commit a
    stage='model' marker row carrying the hash — the same
    sha256[:16] PipelineConfig computes — so extract/resume provenance
    and the trained artifact live in one place. Returns the hash.

    Content-addressed: re-registering identical bytes is a no-op
    overwrite; the marker commit is atomic (MarkerStore tmp+rename)."""
    with open(weights_npz, "rb") as f:
        payload = f.read()
    model_hash = hashlib.sha256(payload).hexdigest()[:16]
    models_dir = os.path.join(out_root, "models")
    os.makedirs(models_dir, exist_ok=True)
    dst = os.path.join(models_dir, f"{model_hash}.npz")
    tmp = dst + ".tmp"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, dst)
    MarkerStore(os.path.join(out_root, "_markers")).commit(
        stage="model",
        partition_key=model_hash,
        snapshot_id=note or os.path.basename(weights_npz),
        input_rows=0,
        output_rows=len(payload),
        model_hash=model_hash,
    )
    return model_hash


def extract_job(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    buckets: list[int] | None = None,
    resume: bool = True,
) -> dict:
    """Run extraction bucket-by-bucket with completion markers."""
    markers = cfg.markers()
    committed = markers.committed("extract") if resume else set()
    planned = buckets if buckets is not None else list(range(cfg.n_buckets))
    todo = [b for b in planned if str(b) not in committed]

    # mixed-model resume guard: a resume that would extract NEW buckets
    # with a different model than the committed ones produces a table
    # whose mentions came from two models — silently
    # inconsistent confidences/spans. Refuse; the caller either resumes
    # with the original weights, or re-extracts everything (resume=False
    # overwrites every bucket idempotently).
    if resume and todo and committed and cfg.model_hash:
        stale = sorted(
            {
                r["model_hash"]
                for r in markers.rows("extract")
                if r["partition_key"] in committed
                and r["model_hash"]
                and r["model_hash"] != cfg.model_hash
            }
        )
        if stale:
            raise RuntimeError(
                f"mixed-model resume refused: buckets {sorted(committed)} "
                f"were extracted with model {stale} but this run uses "
                f"{cfg.model_hash}; pass resume=False to re-extract all "
                f"buckets with the new model, or point cfg.weights_npz at "
                f"the registered npz (see register_model / "
                f"{cfg.out_root}/models/)"
            )

    weights_bc, vocab_bc, model_key = extract.broadcast_model(
        spark, cfg.weights_npz, cfg.vocab_json
    )
    docs_t = cfg.table("documents")
    ment_t = cfg.table("mentions")
    rel_t = cfg.table("relations")

    src = transcripts.withColumn("bucket", bucket_of(F.col("conv_id"), cfg.n_buckets))
    stats = {"buckets_planned": len(planned), "buckets_run": 0, "mentions": 0, "relations": 0}

    # the assembly shuffle doubles as the compute stage's parallelism
    # source (assemble.partition_for_extraction): ONE conv_id exchange,
    # one partition per core, that Catalyst reuses for the groupBy.
    # Without it, AQE's size-based coalescing would shrink a small
    # assembly shuffle to 1 partition and run the compute-bound model
    # stage on one core; with more partitions than cores, every extra
    # Python task pays the worker's fixed per-task cost.
    n_parts = spark.sparkContext.defaultParallelism

    for b in todo:
        part = src.filter(F.col("bucket") == b)
        # input_rows for the marker rides the assembly write as an
        # Observation instead of a separate part.count() action: such a
        # count re-scans every bucket's input once more per pass,
        # driver-serialized — hundreds of extra actions at a few hundred
        # (day, bucket) slices. observe() counts rows at this node during
        # the write that runs anyway; zero extra scans, identical value
        # (tests/test_plans.py pins the per-bucket job count).
        obs = Observation(f"extract_input_b{b}")
        part = part.observe(obs, F.count(F.lit(1)).alias("input_rows"))

        # fused C2+C1: dedup + ordered assembly in a single shuffle
        docs = assemble.assemble_documents_fused(
            assemble.partition_for_extraction(part.drop("bucket"), n_parts)
        ).withColumn("bucket", F.lit(b))
        # every write names its bucket: a re-extract that now yields no
        # rows for it still replaces the previous run's rows
        own = {"bucket": [b]}
        docs_t.overwrite_partitions(docs, own)
        input_rows = int(obs.get["input_rows"])

        ext_turns = assemble.filter_extractable(assemble.explode_documents(docs))
        # fused segmentation+extraction: one Arrow hop (measured 0.817
        # N->4N efficiency vs 0.758 staged; row-identical to
        # extract_sentences(segment_turns(...)), tests/test_invariants.py)
        extracted = extract.extract_turns(
            ext_turns, weights_bc, vocab_bc, model_key=model_key,
            conf_mode=cfg.conf_mode,
        )
        # persist, not localCheckpoint: one forward pass shared by the
        # mention and relation sinks, releasable after the marker commits.
        # try/finally: a failed sink write must not leak the cache into a
        # long-lived session that retries the job (the sweep contract of
        # tests/test_resume.py::TestCacheSweep)
        extracted = extracted.persist()
        try:
            # the marker's row counts ride the two sink writes as
            # Observations (the extract_input pattern above), not a
            # load().count() job per table afterwards. A bucket can be
            # legitimately empty (no extractable turns): its writes still
            # run, the observed counts read 0, and the marker commits so
            # resume doesn't redo the bucket forever.
            obs_m = Observation(f"extract_mentions_b{b}")
            obs_r = Observation(f"extract_relations_b{b}")
            mentions = extract.explode_mentions(extracted).withColumn("bucket", F.lit(b))
            relations = extract.explode_relations(extracted).withColumn("bucket", F.lit(b))
            ment_snap = ment_t.overwrite_partitions(
                mentions.observe(obs_m, F.count(F.lit(1)).alias("n")), own
            )
            rel_t.overwrite_partitions(
                relations.observe(obs_r, F.count(F.lit(1)).alias("n")), own
            )
            n_m = int(obs_m.get["n"])
            n_r = int(obs_r.get["n"])
            markers.commit(
                stage="extract",
                partition_key=str(b),
                snapshot_id=str(ment_snap),
                input_rows=input_rows,
                output_rows=n_m + n_r,
                model_hash=cfg.model_hash,
            )
            stats["buckets_run"] += 1
            stats["mentions"] += n_m
            stats["relations"] += n_r
        finally:
            extracted.unpersist()
    return stats


def link_job(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Entity linking + triple materialization over all extracted buckets."""
    markers = cfg.markers()
    ment_t = cfg.table("mentions")
    mentions = ment_t.load(spark)
    relations = cfg.table("relations").load(spark)
    if mentions is None or relations is None:
        raise RuntimeError("run extract_job first")

    surface_map, entities = link.link_entities(mentions)
    # explicit salting at known-hot keys (BASELINE.json:6): the PREVIOUS
    # run's hub_entities table (top out-degree subjects, written below)
    # routes those subjects through the salted two-level triple aggregate;
    # first run has no hub table yet and takes the plain path everywhere
    hub_tbl = cfg.table("hub_entities").load(spark)
    hub_subjects = (
        [r["subj"] for r in hub_tbl.select("subj").limit(200).collect()]
        if hub_tbl is not None
        else None
    )
    owned_caches: list = []
    triples = materialize.build_triples(
        relations, surface_map, hub_subjects=hub_subjects,
        owned_caches=owned_caches,
    )
    # persist, not localCheckpoint: the four sinks + metrics below all
    # read triples; persist computes it once AND stays releasable
    # (DataFrame.unpersist is a no-op on localCheckpointed DFs).
    # try/finally: cache ownership must hold even when a sink write
    # throws mid-job — a long-lived driver retrying link jobs must not
    # accumulate one leaked cache per attempt (the sweep contract of
    # tests/test_resume.py::TestCacheSweep).
    triples = triples.persist()
    try:
        vertices = materialize.build_vertices(triples, entities)

        ent_t = cfg.table("entities")
        tri_t = cfg.table("triples")
        vert_t = cfg.table("vertices")
        hub_t = cfg.table("hub_entities")
        # every output is recomputed from ALL mentions, so each write is a
        # full-table overwrite: a partition overwrite would keep the old
        # files of any pred=/bucket= partition a relink no longer fills
        ent_t.overwrite(entities.withColumn("part", F.lit(0)), ["part"])
        # edge table layout per SURVEY.md §4.3.6: partition by pred,
        # bucket by subj — point lookups prune to one (pred, bucket)
        # slice via manifests. Clustered by the partition columns first,
        # so each pred=/bucket= directory gets ONE file instead of one per
        # upstream task; the explicit count (one task per core, the model
        # stage's rule) keeps AQE from coalescing this tiny shuffle into
        # a single writer task.
        tri_snap = tri_t.overwrite(
            triples.withColumn("bucket", bucket_of(F.col("subj"), 16)).repartition(
                spark.sparkContext.defaultParallelism, "pred", "bucket"
            ),
            ["pred", "bucket"],
        )
        vert_t.overwrite(vertices.withColumn("part", F.lit(0)), ["part"])
        # H5 degree stats — the skew-planning input (BASELINE.json:6 "hub
        # entities"): next runs read this to pick explicit salts
        hub_t.overwrite(
            materialize.hub_entities(triples, k=100).withColumn("part", F.lit(0)),
            ["part"],
        )

        n_triples = tri_t.total_rows()
        metrics_rows = [
            json.loads(r)
            for r in materialize.partition_metrics(triples).toJSON().collect()
        ]
        markers.commit(
            stage="link_materialize",
            partition_key="all",
            snapshot_id=str(tri_snap),
            input_rows=ment_t.total_rows(),
            output_rows=vert_t.total_rows(),
            triple_count=n_triples,
            model_hash=cfg.model_hash,
        )
    finally:
        # cache ownership (link.link_entities contract): release the
        # surface map, the triples cache, and build_triples' owned
        # intermediates whether or not the sinks succeeded
        surface_map.unpersist()
        triples.unpersist()
        for df in owned_caches:
            df.unpersist()
    return {"triples": n_triples, "per_pred": metrics_rows}


def full_run(
    spark: SparkSession, transcripts: DataFrame, cfg: PipelineConfig, resume: bool = True
) -> dict:
    s1 = extract_job(spark, transcripts, cfg, resume=resume)
    s2 = link_job(spark, cfg)
    return {**s1, **s2}
