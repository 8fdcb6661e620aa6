"""H: triple materialization + aggregation (SURVEY.md §2.H; obligation
BASELINE.json:6 "(subj, pred, obj) triples materialized into partitioned
Iceberg vertex/edge tables").

Join strategy (SURVEY.md §2.I): the mention->entity surface map is distinct-
surface sized (orders of magnitude smaller than mentions), so H1 always
broadcasts it (tests/test_plans.py pins BroadcastHashJoin, no
SortMergeJoin). The hub-entity mention skew never reaches a reducer as raw
rows: resolution joins on the surface KEY (one row per hot surface on the
map side), and the triple dedup (H2) partially aggregates map-side before
the (subj, pred, obj) shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from antnre_spark.link import normalize_surface

PROVENANCE_CAP = 20  # per-triple provenance kept bounded (SURVEY.md §4.3.4)


def _agg_triples(resolved: DataFrame, provenance_cap: int) -> DataFrame:
    """The H2 aggregate: one triple row per (subj, pred, obj) with max
    conf, evidence count, and capped deterministically-ordered
    provenance."""
    return (
        resolved.groupBy("subj", "pred", "obj")
        .agg(
            F.max("conf").alias("conf"),
            F.count("*").alias("n_evidence"),
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct("conv_id", "turn_idx", "sent_idx"))
                ),
                1,
                provenance_cap,
            ).alias("provenance"),
        )
        .select("subj", "pred", "obj", "conf", "n_evidence", "provenance")
    )


def _salted_triple_agg(
    resolved: DataFrame, provenance_cap: int, n_salts: int = 16
) -> DataFrame:
    """Two-level H2 aggregate for KNOWN-HOT subjects (BASELINE.json:6
    "explicit salting ... hub entities"): collect_list is the one
    non-decomposable piece of the triple agg — without salting, every
    evidence struct of a hub triple ships to ONE reducer even though only
    provenance_cap survive. Level 1 aggregates per (key, salt): each of
    the n_salts partials keeps its own sorted cap-length slice; level 2
    merges (flatten + sort + slice). Exactly equal to the unsalted
    aggregate because the global ascending top-cap is contained in the
    union of per-salt ascending top-caps; max/count are decomposable."""
    from antnre_spark.salt import salt_col

    salted = resolved.withColumn(
        "_salt",
        salt_col(n_salts, content_cols=["conv_id", "turn_idx", "sent_idx"]),
    )
    partial = salted.groupBy("subj", "pred", "obj", "_salt").agg(
        F.max("conf").alias("conf"),
        F.count("*").alias("n_evidence"),
        F.slice(
            F.sort_array(
                F.collect_list(F.struct("conv_id", "turn_idx", "sent_idx"))
            ),
            1,
            provenance_cap,
        ).alias("provenance"),
    )
    return (
        partial.groupBy("subj", "pred", "obj")
        .agg(
            F.max("conf").alias("conf"),
            F.sum("n_evidence").alias("n_evidence"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("provenance"))),
                1,
                provenance_cap,
            ).alias("provenance"),
        )
        .select("subj", "pred", "obj", "conf", "n_evidence", "provenance")
    )


def build_triples(
    relations: DataFrame,
    surface_map: DataFrame,
    provenance_cap: int = PROVENANCE_CAP,
    hub_subjects: list[str] | None = None,
    owned_caches: list[DataFrame] | None = None,
) -> DataFrame:
    """H1+H2: resolve both relation arguments, then dedup into TRIPLES with
    evidence counts and capped, deterministically-ordered provenance.

    Relations carry their arguments' (ent_type, surface) inline (set at
    extraction time — see RELATION_STRUCT), so resolution joins the
    DISTINCT-SURFACE map twice, not a mention-sized id map: at bench scale
    these are broadcast hash joins; at petabyte scale the map is still
    orders of magnitude smaller than mentions (surfaces dedupe hub
    entities to one row). The old mention-id formulation cost two
    full sort-merge joins over every mention and anti-scaled with cores.

    ``hub_subjects``: known-hot entity ids (pipeline.link_job reads the
    previous run's hub_entities table — the explicit-salting loop
    BASELINE.json:6 asks for). Their rows aggregate through the salted
    two-level path (_salted_triple_agg, value-identical); everything else
    takes the plain single-shuffle aggregate.
    """
    sm = F.broadcast(surface_map.select("ent_type", "norm", "entity_id"))
    subj_map = sm.select(
        F.col("ent_type").alias("subj_ent_type"),
        F.col("norm").alias("_subj_norm"),
        F.col("entity_id").alias("subj"),
    )
    obj_map = sm.select(
        F.col("ent_type").alias("obj_ent_type"),
        F.col("norm").alias("_obj_norm"),
        F.col("entity_id").alias("obj"),
    )
    resolved = (
        relations.withColumn("_subj_norm", normalize_surface(F.col("subj_surface")))
        .withColumn("_obj_norm", normalize_surface(F.col("obj_surface")))
        .join(subj_map, ["subj_ent_type", "_subj_norm"], "inner")
        .join(obj_map, ["obj_ent_type", "_obj_norm"], "inner")
    )
    if hub_subjects:
        # the hot/cold split references `resolved` from two independent
        # union branches — persist it so the relations scan + both
        # resolution joins compute once, not twice. persist (CacheManager-
        # registered), NOT localCheckpoint: DataFrame.unpersist is a no-op
        # on a localCheckpointed DF (blocks bypass the CacheManager), so a
        # caller could never release it. The persisted handle is appended
        # to ``owned_caches`` — the caller unpersists after its sinks run
        # (pipeline.link_job does; tests/test_resume.py::TestCacheSweep).
        resolved = resolved.persist()
        if owned_caches is not None:
            owned_caches.append(resolved)
        is_hub = F.col("subj").isin(list(hub_subjects))
        return _agg_triples(
            resolved.filter(~is_hub), provenance_cap
        ).unionByName(
            _salted_triple_agg(resolved.filter(is_hub), provenance_cap)
        )
    return _agg_triples(resolved, provenance_cap)


def triple_partials(
    relations: DataFrame, provenance_cap: int = PROVENANCE_CAP
) -> DataFrame:
    """Per-batch MERGEABLE triple aggregates keyed by the normalized
    SURFACE pair (not entity ids) — the streaming incremental
    materializer's unit.

    Why surface keys: entity ids are a GLOBAL property (a new surface in
    a later micro-batch can merge two previously-distinct entities), so
    entity-keyed partials would need rewriting whenever linking changes.
    The normalized surface pair never changes, so each batch's partials
    are write-once (idempotent by batch_id overwrite), and entity
    resolution is applied at merge time against the CURRENT surface map.

    Mergeability is the _salted_triple_agg identity: max(conf) and
    sum(n_evidence) are decomposable, and the global ascending
    provenance top-cap is contained in the union of per-partial top-caps.
    """
    keyed = relations.withColumn(
        "subj_norm", normalize_surface(F.col("subj_surface"))
    ).withColumn("obj_norm", normalize_surface(F.col("obj_surface")))
    return keyed.groupBy(
        "subj_ent_type", "subj_norm", "pred", "obj_ent_type", "obj_norm"
    ).agg(
        F.max("conf").alias("conf"),
        F.count("*").alias("n_evidence"),
        F.slice(
            F.sort_array(
                F.collect_list(F.struct("conv_id", "turn_idx", "sent_idx"))
            ),
            1,
            provenance_cap,
        ).alias("provenance"),
    )


def merge_triple_partials(
    partials: DataFrame,
    surface_map: DataFrame,
    provenance_cap: int = PROVENANCE_CAP,
) -> DataFrame:
    """All-batch partials + CURRENT surface map -> the final triples
    table, value-identical to build_triples over the same underlying
    relations (asserted in tests/test_streaming.py). The merge shuffles
    only |distinct surface-level triples| rows — far smaller than the
    relation stream — so re-materializing after each micro-batch (or
    every K batches) is the delta+compact lakehouse shape, not a
    recompute of the corpus."""
    sm = F.broadcast(surface_map.select("ent_type", "norm", "entity_id"))
    subj_map = sm.select(
        F.col("ent_type").alias("subj_ent_type"),
        F.col("norm").alias("subj_norm"),
        F.col("entity_id").alias("subj"),
    )
    obj_map = sm.select(
        F.col("ent_type").alias("obj_ent_type"),
        F.col("norm").alias("obj_norm"),
        F.col("entity_id").alias("obj"),
    )
    resolved = partials.join(
        subj_map, ["subj_ent_type", "subj_norm"], "inner"
    ).join(obj_map, ["obj_ent_type", "obj_norm"], "inner")
    return (
        resolved.groupBy("subj", "pred", "obj")
        .agg(
            F.max("conf").alias("conf"),
            F.sum("n_evidence").alias("n_evidence"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("provenance"))),
                1,
                provenance_cap,
            ).alias("provenance"),
        )
        .select("subj", "pred", "obj", "conf", "n_evidence", "provenance")
    )


def build_vertices(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """H3: vertex table = distinct entity ids referenced by any triple,
    joined with entity attributes (union + distinct set op)."""
    ids = (
        triples.select(F.col("subj").alias("entity_id"))
        .unionByName(triples.select(F.col("obj").alias("entity_id")))
        .distinct()
    )
    return ids.join(entities, "entity_id", "left")


def partition_metrics(triples: DataFrame) -> DataFrame:
    """H4: per-predicate lineage metrics — triple counts and (approximate)
    distinct entity counts. approx_count_distinct is a single-pass HLL,
    exact enough for lineage dashboards at any scale."""
    return triples.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.sum("n_evidence").alias("n_evidence"),
        F.approx_count_distinct("subj").alias("approx_subjects"),
        F.approx_count_distinct("obj").alias("approx_objects"),
    )


def hub_entities(triples: DataFrame, k: int = 20) -> DataFrame:
    """H5: top-k out-degree subjects (skew planning input, BASELINE.json:6
    "hub entities"). groupBy-count + orderBy-limit: Spark executes the
    limit as a TakeOrderedAndProject — no global sort materialization."""
    return (
        triples.groupBy("subj")
        .agg(F.sum("n_evidence").alias("degree"))
        .orderBy(F.col("degree").desc(), F.col("subj").asc())
        .limit(k)
    )
