"""G: entity linking & canonicalization — MinHash/LSH/connected-components
(SURVEY.md §2.G; obligation BASELINE.json:6 "salted-key MinHash /
connected-components entity linking").

Scale design
------------
The single most important decision: linking operates on **distinct
(ent_type, normalized surface) keys**, not on mentions. A hub entity whose
surface appears in 30% of all mentions (fixture pathology f) collapses to
ONE row before any LSH work happens — the groupBy that dedups surfaces is
the skew neutralizer, and its own shuffle skew is handled by the two-level
salted aggregation in antnre_spark/salt.py when mention counts per surface
are pathological. Downstream, band buckets are size-capped (a bucket larger
than ``max_bucket`` is dropped deterministically — standard LSH practice;
the oracle applies the identical rule) so the candidate self-join can never
quadratically explode; AQE skew-join splitting covers residual imbalance.

Pipeline: mentions -> G1 normalize -> distinct surfaces -> G2 MinHash sigs
(pandas UDF over antnre_spark/hashing, shared with the oracle) -> G3 band
explode -> G4 candidate self-join per band -> G5 exact-Jaccard verify ->
G6 connected components (driver-local union-find at <=100k edges, else
large-star/small-star with a lineage cut per round — localCheckpoint on
local mode, reliable df.checkpoint when the session has a checkpoint
dir; see _cut_lineage) -> G7 canonical representative + entity_id.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from antnre_spark import hashing
from antnre_spark.schema import local_frame

JACCARD_TAU = hashing.TAU_LO
MAX_BUCKET = 64  # band-bucket size cap (dropped if exceeded; oracle matches)
# edge sets at or below this size resolve with a driver-local union-find
# instead of distributed large-star/small-star: the alias graph lives on
# DISTINCT (ent_type, norm) surfaces, which are orders of magnitude
# smaller than mentions even at 10^12 turns, so the common case is a tiny
# graph where dozens of driver-scheduled Spark jobs (a checkpoint and a
# convergence fingerprint per round) cost far more than collecting the
# edges once.
LOCAL_CC_MAX_EDGES = 100_000
# same reasoning one level up: at or below this many DISTINCT surfaces the
# WHOLE linking stage (signatures -> LSH buckets -> verify -> CC ->
# canonical) runs driver-local over the collected surface rows — ~10 small
# driver-scheduled Spark jobs collapse into one collect. Rules are
# bit-identical to the distributed path (same hashing module, same caps,
# same tie-breaks) — asserted by equality in tests/test_link.py.
# 30k is the MEASURED crossover (BENCH/linking_boundary.py, local[16]:
# local/distributed wall = 0.57x @10k, 0.93x @30k, 1.43x @100k); on a
# real multi-executor cluster the distributed side only gets relatively
# faster, so the threshold errs low.
LOCAL_LINK_MAX_SURFACES = 30_000


def normalize_surface(col: F.Column) -> F.Column:
    """G1: whitespace-collapse + trim + lowercase. Pure built-ins."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate lineage between CC-loop iterations.

    localCheckpoint stores blocks only in executor memory/disk: fast, but
    an executor lost mid-loop makes the truncated lineage UNRECOVERABLE
    and kills the whole job — acceptable on local[N], not on a 1000-
    executor cluster where some executor loss per hour is the norm. When
    the session has a reliable checkpoint dir configured
    (``spark.sparkContext.setCheckpointDir(hdfs_or_dbfs_path)``, done
    once at job setup), use ``df.checkpoint()`` instead: blocks are
    replicated to the fault-tolerant store, and a lost executor's
    partitions re-read from there.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


_SIG_SCHEMA = StructType(
    [
        StructField("grams", ArrayType(LongType(), False), False),
        StructField("bands", ArrayType(StringType(), False), False),
    ]
)


@F.pandas_udf(_SIG_SCHEMA)
def _sign_udf(surfaces: pd.Series) -> pd.DataFrame:
    """G2+G3: normalized surface -> (sorted gram codes, LSH band keys).
    Delegates to antnre_spark.hashing so the oracle is bit-identical;
    signatures come from the bulk [K, total_grams] path (one matrix op per
    Arrow batch — tested equal to the per-surface path)."""
    grams = [hashing.gram_codes(s) for s in surfaces]
    sigs = (
        hashing.minhash_signatures_bulk(grams)
        if grams
        else []
    )
    return pd.DataFrame(
        {
            "grams": [g.tolist() for g in grams],
            "bands": [hashing.band_keys(sig) for sig in sigs],
        }
    )


def surface_counts(mentions: DataFrame) -> DataFrame:
    """Stage 1 of distinct_surfaces: per-(ent_type, norm, raw surface)
    mention counts. Split out because these per-raw counts are the
    MERGEABLE representation of the surface table — sums compose across
    micro-batches, whereas the norm-level top_surface pick does not. The
    streaming incremental linker persists exactly this frame per
    batch_id and merges with merge_surface_counts."""
    return (
        mentions.select("ent_type", "surface")
        .withColumn("norm", normalize_surface(F.col("surface")))
        .groupBy("ent_type", "norm", "surface")
        .agg(F.count("*").alias("n_raw"))
    )


def merge_surface_counts(per_raw: DataFrame) -> DataFrame:
    """Stage 2 of distinct_surfaces over (possibly multi-batch) per-raw
    counts: re-sum per raw surface, then the norm-level rollup with the
    same most-frequent / lexicographic-min canonical pick. Feeding
    single-batch counts through this equals distinct_surfaces exactly."""
    summed = per_raw.groupBy("ent_type", "norm", "surface").agg(
        F.sum("n_raw").alias("n_raw")
    )
    return summed.groupBy("ent_type", "norm").agg(
        F.sum("n_raw").alias("n_mentions"),
        # most frequent raw surface; tie -> lexicographic min (total order)
        F.expr("min_by(surface, struct(-n_raw as a, surface as b))").alias(
            "top_surface"
        ),
    )


def distinct_surfaces(mentions: DataFrame) -> DataFrame:
    """mentions -> one row per (ent_type, norm): mention count + the most
    frequent raw surface (tie -> lexicographically smallest).

    Two-level aggregation: the first groupBy includes the raw surface, so
    the hub surface's millions of mentions partially aggregate map-side
    before the (ent_type, norm) reduce — no single reducer sees raw mention
    rows (same effect as an explicit salt for this shape).
    """
    return merge_surface_counts(surface_counts(mentions))


def candidate_pairs(
    surfaces: DataFrame,
    tau: float = JACCARD_TAU,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """G3-G5: LSH band join + exact-Jaccard verification.

    Returns verified edges (ent_type, norm_a, norm_b) with norm_a < norm_b.
    The self-join is equi on (ent_type, band); buckets above max_bucket are
    dropped before joining (deterministic; prevents quadratic blowup on
    degenerate surfaces). Pair dedup happens BEFORE the Jaccard check so
    each candidate pair is verified once, not once per agreeing band.
    """
    signed = surfaces.withColumn("s", _sign_udf(F.col("norm"))).select(
        "ent_type", "norm", F.col("s.grams").alias("grams"), F.col("s.bands").alias("bands")
    )
    exploded = signed.select(
        "ent_type", "norm", "grams", F.explode("bands").alias("band")
    )
    # bucket-size cap via a window count: one shuffle on (ent_type, band),
    # whose hash partitioning the self-join below then REUSES — vs the
    # groupBy+join-back formulation which costs three shuffles.
    wband = Window.partitionBy("ent_type", "band")
    bounded = (
        exploded.withColumn("_bsz", F.count("*").over(wband))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )

    a = bounded.select(
        "ent_type", "band",
        F.col("norm").alias("norm_a"), F.col("grams").alias("grams_a"),
    )
    b = bounded.select(
        "ent_type", "band",
        F.col("norm").alias("norm_b"), F.col("grams").alias("grams_b"),
    )
    # NOTE: no dropDuplicates — a pair agreeing on k bands is verified k
    # times (Jaccard/levenshtein on tiny gram arrays is cheaper than the
    # dedup shuffle) and duplicate edges are a no-op for connected
    # components. Downstream consumers needing distinct edges dedup there.
    pairs = (
        a.join(b, ["ent_type", "band"])
        .filter(F.col("norm_a") < F.col("norm_b"))
        .select("ent_type", "norm_a", "norm_b", "grams_a", "grams_b")
    )
    # two-signal verification (thresholds in antnre_spark.hashing): Jaccard
    # candidates confirmed by either very high overlap or tiny edit
    # distance — separates typo variants from head-token decoys. All three
    # predicates are JVM built-ins (array_intersect/union, levenshtein).
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(
            (F.col("jaccard") >= F.lit(tau))
            & (
                (F.col("jaccard") >= F.lit(hashing.TAU_HI))
                | (
                    F.levenshtein(F.col("norm_a"), F.col("norm_b"))
                    <= F.lit(hashing.LEV_MAX)
                )
            )
        )
        .select("ent_type", "norm_a", "norm_b", "jaccard")
    )


def band_bucket_stats(
    surfaces: DataFrame, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Pre-flight sizing check for candidate_pairs' (ent_type, band)
    buckets — one row per ent_type with band count, max/mean band size,
    and the fraction of band memberships the max_bucket cap would drop
    (same contract as dedup.minhash_bucket_stats /
    dedup.cosine_bucket_stats: the cap stays, but its cost is measured
    up front instead of silently eaten mid-job)."""
    signed = surfaces.withColumn("s", _sign_udf(F.col("norm"))).select(
        "ent_type", F.explode(F.col("s.bands")).alias("band")
    )
    sizes = signed.groupBy("ent_type", "band").agg(F.count("*").alias("n"))
    dropped = F.sum(F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0))
    return sizes.groupBy("ent_type").agg(
        F.count("*").alias("n_bands"),
        F.max("n").alias("max_band_size"),
        F.round(F.avg("n"), 2).alias("mean_band_size"),
        F.round(dropped / F.sum("n"), 6).alias("dropped_frac"),
    )


def _local_union_find(edge_rows) -> dict[tuple[str, str], str]:
    """Driver-local exact connected components over (ent_type, a, b)
    edges (min-label roots, path compression): maps every edge endpoint
    (ent_type, norm) to its component = min norm, the same label
    _star_components computes, at any diameter. Used below
    LOCAL_CC_MAX_EDGES and by the driver-local linking replay."""
    parent: dict[tuple[str, str], tuple[str, str]] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for et, a, b in edge_rows:
        ka, kb = (et, a), (et, b)
        parent.setdefault(ka, ka)
        parent.setdefault(kb, kb)
        ra, rb = find(ka), find(kb)
        if ra != rb:
            # attach the larger root under the smaller -> root IS min label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {k: find(k)[1] for k in parent}


def _star_components(sym: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Alternating large-star/small-star connected components (the
    MapReduce CC algorithm of Kiveris et al., "Connected Components in
    MapReduce and Beyond" — public algorithm): converges in O(log^2 n)
    rounds INDEPENDENT of component diameter, so a 10^4-node typo chain
    resolves as fast as a two-node alias pair.

    sym: symmetric (ent_type, src, dst) edge list. Returns
    (ent_type, norm, component) for every node incident to an edge,
    component = min norm of the connected component.

    Per round: large-star hangs every strictly-larger neighbor of u onto
    m = min(N(u) ∪ {u}); small-star re-hangs u and its smaller neighbors
    onto their minimum. Both are one groupBy + one join over the edge
    list (shuffle-bounded, no driver-side graph state); the edge set
    stays within a constant factor of the input throughout (paper's
    invariant), and each round cuts lineage (_cut_lineage).
    Convergence = (count, hash-sum) fingerprint of the canonical edge set
    unchanged — at the fixpoint the edges ARE stars centered at component
    minima, which is the label assignment. Raises RuntimeError if
    ``max_rounds`` pass without a fixpoint: labels read off a
    non-fixpoint edge set may split components."""
    edges = (
        sym.filter(F.col("src") != F.col("dst"))
        .select(
            "ent_type",
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    edges = _cut_lineage(edges)

    def fingerprint(e: DataFrame) -> tuple:
        # bit_xor, not sum: ANSI mode makes a long sum of xxhash64 values
        # throw on overflow; xor is order-insensitive and overflow-free,
        # and the edge set is distinct so xor cannot hide multiplicity
        r = e.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("ent_type", "a", "b")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    fp = fingerprint(edges)
    for _ in range(max_rounds):
        # large-star: per node u, m = min(N(u) ∪ {u}); emit (m, v) for
        # every neighbor v > u. m <= u < v, so pairs stay canonical.
        s = edges.select(
            "ent_type", F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(
            edges.select(
                "ent_type", F.col("b").alias("u"), F.col("a").alias("v")
            )
        )
        m = (
            s.groupBy("ent_type", "u")
            .agg(F.min("v").alias("mv"))
            .select("ent_type", "u", F.least("u", "mv").alias("m"))
        )
        large = (
            s.join(m, ["ent_type", "u"])
            .filter(F.col("v") > F.col("u"))
            .select("ent_type", F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: per node u (larger endpoint), m = min of its smaller
        # neighbors; emit (m, u) and (m, v) for the other smaller v.
        s2 = large.select(
            "ent_type", F.col("b").alias("u"), F.col("a").alias("v")
        )
        m2 = s2.groupBy("ent_type", "u").agg(F.min("v").alias("m"))
        small = (
            s2.join(m2, ["ent_type", "u"])
            .select("ent_type", F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(
                m2.select(
                    "ent_type", F.col("m").alias("a"), F.col("u").alias("b")
                )
            )
            .distinct()
        )
        new_edges = _cut_lineage(small)
        new_fp = fingerprint(new_edges)
        edges = new_edges
        if new_fp == fp:
            break
        fp = new_fp
    else:
        # O(log^2 n) convergence makes this unreachable for any graph that
        # fits this planet; labels from a non-fixpoint would split
        # components, so fail instead of shipping them
        raise RuntimeError(
            f"connected components did not reach a fixpoint within "
            f"max_rounds={max_rounds} large-star/small-star rounds"
        )
    # fixpoint edges are (component_min, member): read labels off directly
    members = edges.select(
        "ent_type", F.col("b").alias("norm"), F.col("a").alias("component")
    )
    centers = edges.select(
        "ent_type", F.col("a").alias("norm"), F.col("a").alias("component")
    )
    return (
        members.unionByName(centers)
        .groupBy("ent_type", "norm")
        .agg(F.min("component").alias("component"))
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    local_threshold: int = LOCAL_CC_MAX_EDGES,
) -> DataFrame:
    """G6: connected components, driver-local union-find at <=100k edges,
    else large-star/small-star.

    nodes: (ent_type, norm); edges: (ent_type, norm_a, norm_b).
    Returns (ent_type, norm, component) where component = min norm in the
    connected component (a total, deterministic label).

    The edge set is counted once; at or below ``local_threshold`` edges
    the components resolve with an exact driver-local union-find (one
    collect — the alias graph over DISTINCT surfaces is tiny relative to
    the corpus, and the distributed rounds' driver-scheduled jobs are
    pure fixed cost). Above it, _star_components runs: shuffle-bounded
    rounds, diameter-independent, so wide typo chains are never split.

    Reliable checkpoints: every lineage cut goes through _cut_lineage,
    which uses fault-tolerant ``df.checkpoint()`` whenever the session
    has a checkpoint dir (``sc.setCheckpointDir``, set once at job
    setup). The checkpoint files cannot be deleted here because the
    returned labels frame lazily reads them; the store is cleaned by
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` set at
    submit time, or by the store's own tooling.
    """
    sym = edges.select("ent_type", F.col("norm_a").alias("src"), F.col("norm_b").alias("dst")).unionByName(
        edges.select("ent_type", F.col("norm_b").alias("src"), F.col("norm_a").alias("dst"))
    )
    sym = _cut_lineage(sym)

    # sym is checkpointed, so this count does not recompute the LSH
    # stage; /2 because sym holds both directions
    if sym.count() // 2 <= local_threshold:
        comp = _local_union_find(
            (r["ent_type"], r["src"], r["dst"])
            for r in sym.filter(F.col("src") < F.col("dst")).collect()
        )
        labels = local_frame(
            edges.sparkSession,
            [(et, nm, c) for (et, nm), c in comp.items()],
            "ent_type string, norm string, component string",
        )
    else:
        labels = _star_components(sym)
    # isolated nodes (no edges) carry no label: each is its own component
    return nodes.join(labels, ["ent_type", "norm"], "left").select(
        "ent_type",
        "norm",
        F.coalesce("component", F.col("norm")).alias("component"),
    )


def canonicalize(surfaces: DataFrame, components: DataFrame) -> DataFrame:
    """G7: per component pick the canonical representative = raw surface of
    the member with the highest mention count (tie -> lexicographic min
    surface), and mint entity_id = '<ent_type>:<component label>'.

    Returns the surface->entity map:
    (ent_type, norm, entity_id, canonical, n_mentions).
    """
    joined = surfaces.join(components, ["ent_type", "norm"])
    # one aggregation instead of window+filter+join: min_by over the total
    # order (n_mentions DESC, top_surface ASC, norm ASC)
    canon = joined.groupBy("ent_type", "component").agg(
        F.expr(
            "min_by(top_surface, struct(-n_mentions as a, top_surface as b, norm as c))"
        ).alias("canonical")
    )
    return (
        joined.join(canon, ["ent_type", "component"])
        .select(
            "ent_type",
            "norm",
            F.concat_ws(":", "ent_type", "component").alias("entity_id"),
            "canonical",
            "n_mentions",
        )
    )


def build_entities(surface_map: DataFrame) -> DataFrame:
    """ENTITIES vertex-attribute table from the surface map."""
    return (
        surface_map.groupBy("entity_id")
        .agg(
            F.first("canonical").alias("canonical"),
            F.first("ent_type").alias("ent_type"),
            F.sum("n_mentions").alias("n_mentions"),
            F.sort_array(F.collect_set("norm")).alias("aliases"),
        )
        .select("entity_id", "canonical", "ent_type", "n_mentions", "aliases")
    )


def _link_surfaces_local(rows: list, tau: float, max_bucket: int) -> list[tuple]:
    """Driver-local replay of candidate_pairs + connected_components +
    canonicalize over collected surface rows (ent_type, norm, n_mentions,
    top_surface). Same hashing module, same bucket cap, same two-signal
    verification, same min-label components and canonical tie-breaks as
    the distributed operators — returns surface_map tuples
    (ent_type, norm, entity_id, canonical, n_mentions)."""
    grams = {(r[0], r[1]): hashing.gram_codes(r[1]) for r in rows}
    # bulk-sign all surfaces in ONE matrix op — the same
    # minhash_signatures_bulk the distributed _sign_udf uses (per-doc
    # minhash_signature in a Python loop costs avoidable driver seconds
    # near the LOCAL_LINK_MAX_SURFACES local/distributed cutover)
    ordered = sorted(rows)
    sigs = hashing.minhash_signatures_bulk(
        [grams[(r[0], r[1])] for r in ordered]
    )
    buckets: dict[tuple, list[str]] = {}
    for (et, nm, _n, _t), sig in zip(ordered, sigs):
        for band in hashing.band_keys(sig):
            buckets.setdefault((et, band), []).append(nm)
    edges: set[tuple[str, str, str]] = set()
    for (et, _band), members in buckets.items():
        if len(members) > max_bucket:
            continue  # size-capped bucket, dropped (candidate_pairs rule)
        ms = sorted(set(members))
        for i in range(len(ms)):
            for k in range(i + 1, len(ms)):
                a, b = ms[i], ms[k]
                if (et, a, b) in edges:
                    continue
                j = hashing.jaccard(grams[(et, a)], grams[(et, b)])
                if j >= tau and (
                    j >= hashing.TAU_HI
                    or hashing.levenshtein(a, b) <= hashing.LEV_MAX
                ):
                    edges.add((et, a, b))
    # surfaces with no verified edge are their own component
    comp = {(et, nm): nm for et, nm, _n, _t in rows}
    comp.update(_local_union_find(edges))
    # canonical per component: (-n_mentions, top_surface, norm) min
    best: dict[tuple, tuple] = {}
    for et, nm, n, t in rows:
        key = (et, comp[(et, nm)])
        cand = (-n, t, nm)
        if key not in best or cand < best[key]:
            best[key] = cand
    return [
        (et, nm, f"{et}:{comp[(et, nm)]}", best[(et, comp[(et, nm)])][1], n)
        for et, nm, n, _t in rows
    ]


def link_entities(
    mentions: DataFrame,
    tau: float = JACCARD_TAU,
    max_bucket: int = MAX_BUCKET,
    local_threshold: int = LOCAL_LINK_MAX_SURFACES,
) -> tuple[DataFrame, DataFrame]:
    """Full G pipeline: mentions -> (surface_map, entities).

    Hybrid like connected_components: the distinct-surface table is counted
    once (cached — the count is reused by whichever path runs); at or below
    ``local_threshold`` surfaces the whole linking stage replays
    driver-local in one collect, else the distributed LSH/CC operators run.
    Distinct surfaces are the SMALL end of the pipeline by construction
    (hub collapse), so the local path is the common case even at 10^12
    turns unless entity diversity is extreme — and then the distributed
    path is exactly what you want.

    Cache ownership: ``surfaces`` is cached for the probe and unpersisted
    HERE on both paths — the returned plans never reference it.
    ``surface_map`` is returned CACHED (the triple resolution joins and
    build_entities both read it); the caller that runs the final actions
    unpersists it (pipeline.link_job does).
    """
    return link_surfaces(
        distinct_surfaces(mentions),
        tau=tau,
        max_bucket=max_bucket,
        local_threshold=local_threshold,
    )


def link_surfaces(
    surfaces: DataFrame,
    tau: float = JACCARD_TAU,
    max_bucket: int = MAX_BUCKET,
    local_threshold: int = LOCAL_LINK_MAX_SURFACES,
) -> tuple[DataFrame, DataFrame]:
    """link_entities from a pre-built surface table (ent_type, norm,
    n_mentions, top_surface) — the entry the streaming incremental linker
    uses, where surfaces come from merge_surface_counts over per-batch
    persisted counts rather than a mentions scan. Same hybrid
    local/distributed strategy and the same cache-ownership contract
    (``surfaces`` is cached+released here; ``surface_map`` returns
    cached, caller unpersists). On the local path the surface map is
    built on the driver as an Arrow table (schema.local_frame), so its
    plan is a LocalTableScan: no Spark job and no Python worker."""
    spark = surfaces.sparkSession
    # cache BEFORE the probe: on the over-threshold path the probe's
    # limit still executes the full distinct aggregation map-side, and
    # without the cache the three distributed consumers would pay that
    # aggregation again from scratch
    surfaces.cache()
    if local_threshold > 0:
        # ONE probe job instead of a count()+collect() pair: limit(T+1)
        # returns the COMPLETE surface set whenever it doesn't bind
        # (len <= T), and exactly T+1 rows — the over-threshold signal —
        # when it does. Collect order is arbitrary under limit, which is
        # fine: _link_surfaces_local sorts before hashing.
        probe = surfaces.limit(local_threshold + 1).collect()
        if len(probe) <= local_threshold:
            surfaces.unpersist()
            rows = [
                (r["ent_type"], r["norm"], r["n_mentions"], r["top_surface"])
                for r in probe
            ]
            surface_map = local_frame(
                spark,
                _link_surfaces_local(rows, tau, max_bucket),
                "ent_type string, norm string, entity_id string, "
                "canonical string, n_mentions long",
            )
            surface_map.cache()
            return surface_map, build_entities(surface_map)
    # distributed path: surfaces (already cached above) feeds three
    # operators; dropped once surface_map is forced (leaving it pinned
    # leaks executor memory across calls in a long-lived session)
    edges = candidate_pairs(surfaces, tau=tau, max_bucket=max_bucket)
    components = connected_components(
        edges, surfaces.select("ent_type", "norm")
    )
    surface_map = canonicalize(surfaces, components)
    surface_map.cache()
    surface_map.count()
    surfaces.unpersist()
    return surface_map, build_entities(surface_map)
