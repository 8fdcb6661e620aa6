"""Graph analytics over the materialized knowledge graph.

The pipeline materializes the KG as vertex/edge tables
(``materialize.py``: triples with subj/obj entity ids); the natural
follow-on questions — which entities are structurally important
(PageRank), what is the densely-connected core (k-core), what lies
within n hops of a seed set (neighborhood expansion) — are iterative
graph computations. This module expresses them as DataFrame fixpoint
loops, the same execution shape as ``link.connected_components``:

* every iteration is a shuffle-bounded join + aggregation on the edge
  relation (no driver-side adjacency, no ``collect()`` of vertices or
  edges — only bounded scalar actions: one O(1) aggregate per
  iteration for dangling mass / convergence checks, exactly like the
  CC loop's fingerprint);
* lineage is truncated every iteration via ``link._cut_lineage``
  (localCheckpoint on local mode, reliable ``checkpoint()`` when a
  checkpoint dir is configured — see that docstring for the executor-
  loss trade-off at cluster scale);
* the static edge relation is prepared ONCE (out-degrees joined,
  persisted) and re-read by every iteration, so the per-iteration cost
  is one shuffle on ``dst`` — hot destination vertices (hubs) are the
  classic skew case and are handled by AQE skew-join plus the fact
  that the aggregation is partial (map-side combine) before the
  exchange.

Algorithms are the standard public formulations: PageRank with
uniform teleport and dangling-mass redistribution [pub: Brin & Page
1998]; k-core by iterated degree peeling [pub: Matula & Beck 1983];
n-hop frontier expansion is plain BFS with a visited anti-join.

Scale posture (100 TB KG, |E| >> |V|): ranks/degrees are per-vertex
tables — orders of magnitude smaller than edges — so the per-iteration
``edges JOIN ranks ON src`` is the only big shuffle; with edges
bucketed by ``src`` at write time the join co-locates and only the
``groupBy(dst)`` exchange remains. Iteration counts are small
constants (PageRank 10-20, k-core/BFS bounded by graph diameter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .link import _cut_lineage


def kg_edges(
    triples: DataFrame,
    src_col: str = "subj",
    dst_col: str = "obj",
    evidence_col: str | None = None,
) -> DataFrame:
    """Entity-level directed edge list (src, dst) from the materialized
    triples table (``materialize.materialize_triples`` schema: subj,
    pred, obj, ...), one row per distinct pair.

    The collapse to one row per pair means the analytics weigh
    structure, not predicate multiplicity — unless ``evidence_col``
    names a count column (e.g. ``n_evidence``), in which case the
    output carries a ``weight`` column summing it across the collapsed
    parallel edges, ready for ``pagerank(weight_col="weight")``.
    """
    pairs = triples.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        *([F.col(evidence_col)] if evidence_col else []),
    ).filter(F.col("src") != F.col("dst"))
    if evidence_col is None:
        return pairs.distinct()
    return pairs.groupBy("src", "dst").agg(
        F.sum(F.col(evidence_col).cast("double")).alias("weight")
    )


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing at either endpoint (column ``v``)."""
    return (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    weight_col: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a (src, dst) edge DataFrame.

    Returns (vertex, rank) for every vertex, with sum(rank) == 1 up to
    float error. Fixed iteration count (the caller picks convergence
    depth); uniform teleport ``(1-d)/N``; the rank mass of dangling
    vertices (no out-edges) is redistributed via the teleport vector
    each step, so mass is conserved exactly as in the public
    formulation.

    ``weight_col`` (r6): name of a positive edge-weight column
    (e.g. the triple table's ``n_evidence``); contributions become
    ``rank * w / out_strength(src)`` instead of ``rank / outdeg``.
    Zero/negative weights are the caller's bug — out_strength must be
    positive wherever an out-edge exists.

    ``seeds`` (r6): a DataFrame with column ``v`` switches to
    PERSONALIZED PageRank [pub: the standard PPR formulation]: the
    teleport (and dangling) mass goes uniformly to the seed set only,
    and ranks start there — the KG use is "entity relevance around
    this query entity", evidence-weighted when combined with
    weight_col. Non-seed-reachable vertices get rank 0.

    Execution shape per iteration: one join of the prepared edge
    relation (out-degree/strength attached, persisted once) with the
    current rank vector on ``src``, one map-side-combined
    ``groupBy(dst)``, one left join back onto the static vertex table,
    plus ONE bounded scalar action (the dangling-mass sum — a single
    double to the driver, the same bounded-collect class as the CC
    loop's fingerprint). The dangling flag and the teleport vector are
    STATIC per-vertex facts, so they are carried as columns INSIDE the
    rank vector: the dangling-mass scalar is then a filter+aggregate
    SCAN of the just-persisted ranks — the one action per iteration
    both forces the new rank cache and returns the scalar, with no
    extra join, no extra shuffle, and no re-execution of the iteration
    chain (measured r6: the previous semi-join + checkpoint-forced
    shape cost ~2x per iteration at 20M edges). The uniform/unweighted
    path computes bit-identical expressions to the original r6 formula
    (the gr_pagerank oracle depends on that), so the generalizations
    branch rather than rewrite it.
    """
    # Vertex set AND dangling flag from ONE aggregation over the edge
    # endpoints (dang <=> never appears as src <=> no out-edges) — this
    # replaces the r6-original distinct + out-degree left-join + extra
    # checkpoint setup passes; at 20M edges it cut setup ~2x.
    vbase = (
        edges.select(F.col("src").alias("v"), F.lit(1).alias("ho"))
        .unionByName(edges.select(F.col("dst").alias("v"), F.lit(0).alias("ho")))
        .groupBy("v")
        .agg((F.max("ho") == 0).alias("dang"))
    ).persist()
    n = vbase.count()  # bounded scalar: one long (also forces the cache)
    if n == 0:
        vbase.unpersist()
        return vbase.select(
            F.col("v").alias("vertex"), F.lit(0.0).alias("rank")
        )
    verts = vbase.select("v")
    if weight_col is None:
        deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    else:
        deg = edges.groupBy("src").agg(
            F.sum(F.col(weight_col).cast("double")).alias("outdeg")
        )
    wc = (
        F.lit(1.0)
        if weight_col is None
        else F.col(weight_col).cast("double")
    )
    # static across iterations: prepare once, persist, reuse
    edges_w = edges.join(deg, "src").select(
        "src", "dst", "outdeg", wc.alias("w")
    ).persist()
    vstat = None
    prev_cached = None
    try:
        edges_w.count()  # materialize before the loop times anything
        # static per-vertex table: vbase already carries the dangling
        # flag; PPR additionally attaches the teleport vector e — then
        # both are carried as columns through every iteration's ranks
        if seeds is None:
            vstat = vbase
            ranks = vstat.select("v", F.lit(1.0 / n).alias("rank"), "dang")
        else:
            seed_set = _cut_lineage(
                verts.join(seeds.select("v").distinct(), "v", "left_semi")
            )
            n_seeds = seed_set.count()  # bounded scalar
            if n_seeds == 0:
                raise ValueError("seeds contain no vertex of the graph")
            vstat = (
                vbase.join(
                    seed_set.select(
                        "v", F.lit(1.0 / n_seeds).alias("e")
                    ),
                    "v",
                    "left",
                )
                .select(
                    "v",
                    F.coalesce("e", F.lit(0.0)).alias("e"),
                    "dang",
                )
                .persist()
            )
            vstat.count()
            ranks = vstat.select(
                "v", F.col("e").alias("rank"), "dang", "e"
            )
        carry = ["dang"] if seeds is None else ["dang", "e"]
        for i in range(iterations):
            # ONE action per iteration: persist the current rank
            # vector, then the dangling-mass aggregate scans it —
            # forcing the cache that the contribs join below re-reads.
            ranks = ranks.persist()
            dm_row = (
                ranks.filter(F.col("dang"))
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .first()
            )
            dm = float(dm_row[0])
            if prev_cached is not None:
                prev_cached.unpersist()
            prev_cached = ranks
            contribs = (
                edges_w.join(ranks, edges_w["src"] == ranks["v"])
                .select(
                    "dst",
                    (F.col("rank") * F.col("w") / F.col("outdeg")).alias("c")
                    if weight_col is not None
                    else (F.col("rank") / F.col("outdeg")).alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            if seeds is None:
                ranks = vstat.join(
                    contribs, vstat["v"] == contribs["dst"], "left"
                ).select(
                    vstat["v"],
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dm / n))
                    ).alias("rank"),
                    *[vstat[c] for c in carry],
                )
            else:
                ranks = vstat.join(
                    contribs, vstat["v"] == contribs["dst"], "left"
                ).select(
                    vstat["v"],
                    (
                        F.lit(1.0 - damping) * vstat["e"]
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("s"), F.lit(0.0))
                            + F.lit(dm) * vstat["e"]
                        )
                    ).alias("rank"),
                    *[vstat[c] for c in carry],
                )
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                ranks = _cut_lineage(ranks)
        return ranks.select(F.col("v").alias("vertex"), "rank")
    finally:
        edges_w.unpersist()
        vbase.unpersist()
        if vstat is not None and vstat is not vbase:
            vstat.unpersist()
        if prev_cached is not None:
            # the returned ranks were localCheckpoint-ed on the last
            # iteration, so dropping the per-iteration cache is safe
            prev_cached.unpersist()


def connected_components(edges: DataFrame) -> DataFrame:
    """(vertex, component) for the UNDIRECTED components of the edge
    set; component = min vertex id in the component (total,
    deterministic label).

    Thin adapter over ``link.connected_components`` — the same engine
    the entity-linking stage runs at corpus scale (driver-local
    union-find at <=100k edges, else large-star/small-star), reused
    rather than re-implemented.
    """
    from .link import connected_components as _cc

    out = _cc(
        edges.select(
            F.lit("_g").alias("ent_type"),
            F.col("src").alias("norm_a"),
            F.col("dst").alias("norm_b"),
        ),
        vertices(edges).select(
            F.lit("_g").alias("ent_type"), F.col("v").alias("norm")
        ),
    )
    return out.select(
        F.col("norm").alias("vertex"), F.col("component")
    )


def _min_label_fixpoint(
    edges: DataFrame, labels: DataFrame, checkpoint_every: int
) -> DataFrame:
    """Propagate ``lbl(v) = min(lbl(v), min over v->w of lbl(w),
    lbl(lbl(v)))`` to a fixpoint. ``edges``: (src, dst), persisted or
    checkpointed by the caller; ``labels``: (v, lbl) initial labels.
    Returns the stable (v, lbl), lineage-cut.

    The third term is POINTER DOUBLING (the shortcutting step of
    min-label CC algorithms): ``lbl(v)`` is by invariant an id
    reachable from v, so ``lbl(lbl(v))`` is too — jumping through it
    doubles the propagation distance per iteration, making
    convergence O(log diameter) instead of O(diameter). Without it a
    single 10^3-long cycle (KG rings are real: see the gr_scc oracle
    construction) costs 10^3 sequential Spark jobs; with it, ~10. The
    jump join is |V|-sized — cheap next to the edge join.

    Per iteration: the edge join on ``dst`` (map-side-combined
    groupBy(src) min), the |V|-row jump self-join, one left join
    back, and ONE bounded scalar action (the changed-row count) that
    also forces the freshly persisted labels — the pagerank loop's
    force-once shape.
    """
    prev = None
    it = 0
    while True:
        it += 1
        cand = (
            edges.join(
                labels.select(
                    F.col("v").alias("dst"), F.col("lbl").alias("dlbl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlbl").alias("cand"))
        )
        jump = labels.select(
            F.col("v").alias("lbl"), F.col("lbl").alias("l2")
        )
        new_lbl = F.least(
            labels["lbl"],
            F.coalesce(F.col("cand"), labels["lbl"]),
            F.coalesce(F.col("l2"), labels["lbl"]),
        )
        upd = (
            labels.join(cand, labels["v"] == cand["src"], "left")
            .join(jump, "lbl", "left")
            .select(
                labels["v"],
                new_lbl.alias("lbl"),
                (new_lbl < labels["lbl"]).alias("chg"),
            )
            .persist()
        )
        changed = upd.filter("chg").count()  # bounded scalar + force
        if prev is not None:
            prev.unpersist()
        prev = upd
        labels = upd.select("v", "lbl")
        if it % checkpoint_every == 0:
            labels = _cut_lineage(labels)
        if changed == 0:
            break
    out = _cut_lineage(labels)
    prev.unpersist()
    return out


def strongly_connected_components(
    edges: DataFrame, max_rounds: int = 25, checkpoint_every: int = 3
) -> DataFrame:
    """(vertex, component) for the DIRECTED strongly connected
    components of the edge set; component = min vertex id in the SCC
    (total, deterministic label — the same convention as
    :func:`connected_components`). KG use: cycle detection — taxonomy
    loops (``subclass_of`` cycles), mutual-causation clusters in
    derived edges — where the undirected components conflate
    direction.

    Algorithm: FW-BW-Trim, the standard distributed SCC formulation
    [pub: Fleischer/Hendrickson/Pinar divide-and-conquer SCC; Hong et
    al.'s trimming; Orzan-style min-label coloring]. Per round over
    the still-active subgraph:

    1. TRIM — a vertex with no in-edge or no out-edge in the active
       subgraph cannot sit on a directed cycle, so it is peeled as a
       singleton SCC; peeling repeats until stable (this alone
       resolves any DAG region in diameter-many cheap join steps).
    2. ``f(v)`` = min id reachable FROM v (forward min-label
       fixpoint), ``b(v)`` = min id that can REACH v (the same
       fixpoint on reversed edges). ``f(v) = b(v) = m`` means v and m
       are mutually reachable, so all such v form SCC(m); the round
       always resolves at least the SCC of the globally smallest
       active id, and in practice most SCCs whose local minimum is a
       "basin" minimum. Resolved vertices leave the active set.

    Rounds are bounded by ``max_rounds`` (RuntimeError past it —
    honest failure, not silent truncation); real KG graphs resolve in
    a few rounds because trimming strips the acyclic bulk. Self-loop
    edges are removed before the rounds (they never change SCC
    membership) and a vertex whose ONLY edges were self-loops is
    emitted as its own singleton SCC at the end. Isolated vertices
    never appear (the input is an edge list). Per-step shuffles are
    the module's standard shape: equi-joins + map-side-combined
    aggregations on the edge relation, only bounded scalar counts
    reach the driver.
    """
    loop_verts = (
        edges.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("vertex"))
        .distinct()
    )
    act_e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    empty = act_e.select(
        F.col("src").alias("vertex"), F.col("dst").alias("component")
    ).limit(0)
    pieces: list[DataFrame] = []
    # every loop-carried DataFrame is EAGERLY lineage-cut each
    # step: keep/trimmed/nxt reference act_e (and each other)
    # several times, so without the cut the logical plan grows
    # geometrically per iteration and plan processing itself
    # eventually OOMs — the module-docstring fixpoint rule, and
    # this module's measured failure mode when skipped.
    act_e = _cut_lineage(act_e)
    for _ in range(max_rounds):
        # ---- TRIM: peel no-in / no-out vertices as singletons
        while True:
            srcs = act_e.select("src").distinct()
            dsts = act_e.select(F.col("dst").alias("src")).distinct()
            both = srcs.join(dsts, "src", "inner")
            keep = _cut_lineage(
                act_e.join(both, "src", "left_semi").join(
                    both.select(F.col("src").alias("dst")),
                    "dst",
                    "left_semi",
                )
            )
            trimmed = _cut_lineage(
                srcs.unionByName(dsts)
                .distinct()
                .exceptAll(
                    keep.select("src")
                    .unionByName(keep.select(F.col("dst").alias("src")))
                    .distinct()
                )
                .select(
                    F.col("src").alias("vertex"),
                    F.col("src").alias("component"),
                )
            )
            n_trimmed = trimmed.count()  # bounded scalar
            act_e = keep
            if n_trimmed == 0:
                break
            pieces.append(trimmed)
        n_edges = act_e.count()  # bounded scalar
        if n_edges == 0:
            break
        # ---- FW/BW min-label fixpoints over the cyclic core
        verts = _cut_lineage(vertices(act_e))
        init = verts.select("v", F.col("v").alias("lbl"))
        fwd = _min_label_fixpoint(act_e, init, checkpoint_every)
        bwd = _min_label_fixpoint(
            act_e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ),
            init,
            checkpoint_every,
        )
        scc = _cut_lineage(
            fwd.join(
                bwd.select("v", F.col("lbl").alias("blbl")), "v"
            )
            .filter(F.col("lbl") == F.col("blbl"))
            .select(
                F.col("v").alias("vertex"), F.col("lbl").alias("component")
            )
        )
        pieces.append(scc)
        act_e = _cut_lineage(
            act_e.join(
                scc.select(F.col("vertex").alias("src")),
                "src",
                "left_anti",
            ).join(
                scc.select(F.col("vertex").alias("dst")),
                "dst",
                "left_anti",
            )
        )
        if act_e.count() == 0:  # bounded scalar
            break
    else:
        raise RuntimeError(
            f"SCC did not resolve within max_rounds={max_rounds} "
            "FW-BW rounds (pathological SCC chain); raise max_rounds"
        )
    out = empty
    for p in pieces:
        out = out.unionByName(p)
    # vertices whose only edges were self-loops: singleton SCCs not
    # seen by the rounds (their non-loop degree is zero)
    extras = loop_verts.join(
        out.select("vertex"), "vertex", "left_anti"
    ).select("vertex", F.col("vertex").alias("component"))
    return out.unionByName(extras)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count per vertex (vertex, n_triangles), vertices
    in no triangle omitted. Direction is ignored (the KG edge list is
    symmetrized and deduped first).

    Degree-ordered orientation [pub: the standard MapReduce triangle
    scheme, Suri & Vassilvitskii WWW'11]: orient every undirected edge
    from the lower-(degree, id) endpoint to the higher, making a DAG in
    which each triangle appears as EXACTLY one wedge u->v, v->w plus
    its closing oriented edge u->w. Wedge generation is the only
    quadratic-ish step and is bounded per vertex by ORIENTED out-degree
    <= O(sqrt(|E|)) — the whole point of the orientation: a
    10^8-follower hub contributes no giant wedge set because its edges
    all point INTO it.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    # orient (a, b) from the (deg, id)-smaller endpoint to the larger
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    o1 = oriented.select(F.col("u").alias("x"), F.col("w").alias("y"))
    o2 = oriented.select(F.col("u").alias("y"), F.col("w").alias("z"))
    wedges = o1.join(o2, "y").select("x", "y", "z")
    tris = wedges.join(
        oriented,
        (wedges["x"] == oriented["u"]) & (wedges["z"] == oriented["w"]),
        "left_semi",
    )
    per_vertex = (
        tris.select(F.col("x").alias("vertex"))
        .unionByName(tris.select(F.col("y").alias("vertex")))
        .unionByName(tris.select(F.col("z").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_vertex


def label_propagation(
    edges: DataFrame, iterations: int = 10, checkpoint_every: int = 3
) -> DataFrame:
    """Community detection by synchronous label propagation
    [pub: Raghavan et al. 2007] over the undirected edge set:
    every vertex starts as its own label; each round it adopts the most
    frequent label among its neighbors, ties broken by MIN label — a
    deterministic total order, so the result is reproducible run to
    run (unlike the randomized original). Fixed iteration count;
    synchronous LPA can 2-cycle on bipartite structures, so callers
    wanting a fixpoint should compare consecutive rounds themselves.

    Per round: one join of the symmetrized edges against the (small)
    label table, a (vertex, label) count aggregation, and one window
    max — all shuffle-bounded on vertex keys. Each round's label table
    is persisted and forced with ONE count action before the next
    round reads it: the round plan references ``labels`` TWICE (the
    neighbor vote derives from it AND it is the left side of the
    isolated-vertex join), so leaving rounds lazy executes the
    previous round's subtree twice per level (measured r6: rounds at
    ~12s that run at ~3s once materialized). Lineage is additionally
    cut every ``checkpoint_every`` rounds to bound plan depth.

    Returns (vertex, label).
    """
    from pyspark.sql import Window

    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    prev_cached = None
    try:
        sym.count()  # materialize once; every round re-reads it
        labels = vertices(edges).select("v", F.col("v").alias("label"))
        for i in range(iterations):
            neigh = (
                sym.join(labels, sym["dst"] == labels["v"])
                .select(F.col("src").alias("v"), "label")
                .groupBy("v", "label")
                .agg(F.count("*").alias("n"))
            )
            w = Window.partitionBy("v").orderBy(
                F.desc("n"), F.asc("label")
            )
            best = (
                neigh.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("v", "label")
            )
            # isolated vertices (no neighbors) keep their own label
            labels = (
                labels.select("v", F.col("label").alias("old"))
                .join(best, "v", "left")
                .select(
                    "v", F.coalesce("label", "old").alias("label")
                )
            )
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                labels = _cut_lineage(labels)
            else:
                labels = labels.persist()
                labels.count()  # force: the round runs exactly once
            if prev_cached is not None:
                prev_cached.unpersist()
            prev_cached = labels if labels.is_cached else None
        return labels.select(F.col("v").alias("vertex"), "label")
    finally:
        sym.unpersist()
        if prev_cached is not None:
            prev_cached.unpersist()


def k_core(edges: DataFrame, k: int, max_iterations: int = 100) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex
    has total degree (in + out, parallel edges collapsed by the caller)
    >= k. Iterated peeling: drop vertices below k, restrict edges to
    surviving endpoints, repeat to fixpoint.

    Per iteration: one degree aggregation, two semi-joins, one bounded
    scalar (the surviving-edge count, doubling as the convergence
    check). Terminates in at most |V| rounds; real graphs converge in
    a handful. Hitting ``max_iterations`` without a fixpoint raises
    (the partially-peeled edge set is a SUPERSET of the k-core —
    returning it silently would contradict the module's honest-failure
    posture, same as strongly_connected_components' max_rounds).
    """
    cur = edges
    prev_n = None
    for _ in range(max_iterations):
        deg = (
            cur.select(F.col("src").alias("v"))
            .unionByName(cur.select(F.col("dst").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("v")
        nxt = _cut_lineage(
            cur.join(keep, cur["src"] == keep["v"], "left_semi").join(
                keep, cur["dst"] == keep["v"], "left_semi"
            )
        )
        n_edges = nxt.count()  # bounded scalar + fixpoint check
        cur = nxt
        if n_edges == prev_n or n_edges == 0:
            break
        prev_n = n_edges
    else:
        raise RuntimeError(
            f"k_core: no fixpoint after {max_iterations} peeling rounds "
            "(pathological long-chain graph?) — the surviving edge set "
            "is still a superset of the k-core; raise max_iterations"
        )
    return (
        cur.select(F.col("src").alias("v"))
        .unionByName(cur.select(F.col("dst").alias("v")))
        .distinct()
    )


def n_hop(
    edges: DataFrame,
    seeds: DataFrame,
    n: int,
    direction: str = "out",
) -> DataFrame:
    """BFS neighborhood: (vertex, hop) for every vertex reachable from
    the seed set (column ``v``) in at most ``n`` directed hops; ``hop``
    is the MINIMUM distance (seeds are hop 0). ``direction`` follows
    edges src->dst (``"out"``), dst->src (``"in"``), or both
    (``"both"``).

    Frontier expansion per hop: one join of edges against the (small)
    frontier, a distinct, and an anti-join against the visited set —
    the standard scalable BFS; no per-vertex driver state. The frontier
    is typically tiny relative to edges, so Catalyst/AQE broadcasts it.
    Each hop's NEW frontier is checkpointed (it is also the early-exit
    probe); ``visited`` is kept as the lazy UNION of those materialized
    frames rather than re-checkpointed per hop — re-materializing the
    union copied the entire visited set O(V) once per hop (O(V·n)
    total), while the union of ≤n checkpoint-backed frames costs one
    plan node per hop and nothing at runtime until scanned.
    """
    if direction == "out":
        step = edges.select("src", "dst")
    elif direction == "in":
        step = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    elif direction == "both":
        step = edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    else:
        raise ValueError(f"direction must be out|in|both, got {direction!r}")
    visited = _cut_lineage(
        seeds.select("v").distinct().select("v", F.lit(0).alias("hop"))
    )
    frontier = visited.select("v")
    for h in range(1, n + 1):
        nxt = (
            step.join(frontier, step["src"] == frontier["v"], "left_semi")
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(visited, "v", "left_anti")
            .select("v", F.lit(h).alias("hop"))
        )
        nxt = _cut_lineage(nxt)
        if nxt.isEmpty():  # bounded probe; BFS done early
            break
        visited = visited.unionByName(nxt)  # union of checkpointed frames
        frontier = nxt.select("v")
    return visited.select(F.col("v").alias("vertex"), "hop")


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    weight_col: str | None = None,
    direction: str = "out",
    max_rounds: int = 64,
) -> DataFrame:
    """Single/multi-source shortest paths over NON-NEGATIVE edge
    weights: (vertex, dist) for every vertex reachable from the seed
    set (column ``v``; seeds are dist 0.0). ``weight_col`` names the
    edge weight (e.g. ``kg_edges(evidence_col=...)``'s ``weight``, or
    a cost column); None = unit weights (then dist == n_hop's hop
    count). ``direction`` as in :func:`n_hop`.

    Frontier Bellman-Ford [pub: Bellman 1958; the delta-free frontier
    form — only vertices whose distance IMPROVED last round relax
    their out-edges this round]: per round one equi-join of the
    frontier against the edge relation, a min-aggregate per
    destination, and an improvement merge against the distance table —
    all shuffle-bounded, no driver-side state beyond the one empty-
    frontier probe per round (the same bounded-scalar discipline as
    every loop in this module), lineage cut per round. Rounds are
    bounded by the longest shortest-path EDGE COUNT (non-negative
    weights guarantee convergence); ``max_rounds`` raises rather than
    returning a partially-relaxed table (honest failure, like SCC and
    k_core).

    Scale posture: dist/frontier are per-vertex tables (<< |E|); the
    big join is frontier⋈edges on src — AQE broadcasts small frontiers
    and splits hub skew; the min-aggregate is partial (map-side
    combine) before its exchange.
    """
    if direction == "out":
        step = edges
    elif direction == "in":
        step = edges.withColumnRenamed("src", "_d").withColumnRenamed(
            "dst", "src"
        ).withColumnRenamed("_d", "dst")
    elif direction == "both":
        step = edges.unionByName(
            edges.withColumnRenamed("src", "_d")
            .withColumnRenamed("dst", "src")
            .withColumnRenamed("_d", "dst")
        )
    else:
        raise ValueError(f"direction must be out|in|both, got {direction!r}")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    step = step.select("src", "dst", w.alias("w"))
    dist = _cut_lineage(
        seeds.select("v").distinct().select("v", F.lit(0.0).alias("dist"))
    )
    frontier = dist
    for _ in range(max_rounds):
        cand = (
            frontier.join(step, frontier["v"] == step["src"])
            .select(
                F.col("dst").alias("v"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("v")
            .agg(F.min("cand").alias("cand"))
        )
        improved = _cut_lineage(
            cand.join(dist, "v", "left")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("v", F.col("cand").alias("dist"))
        )
        if improved.isEmpty():
            break
        dist = _cut_lineage(
            dist.join(improved.select("v"), "v", "left_anti").unionByName(
                improved
            )
        )
        frontier = improved
    else:
        raise RuntimeError(
            f"shortest_paths: no fixpoint after {max_rounds} relaxation "
            "rounds (negative weights, or a longest shortest path with "
            "more edges than the cap — raise max_rounds)"
        )
    return dist.select(F.col("v").alias("vertex"), "dist")
