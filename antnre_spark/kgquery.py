"""Basic-graph-pattern (BGP) queries over the materialized KG.

The pipeline's output is a triples table (``materialize.build_triples``
schema: subj, pred, obj, conf, n_evidence, provenance). The natural
read-side capability of a KG store is conjunctive pattern matching —
"find all (?c, ?n, ?r) with (?c, in_nation, ?n) AND (?n, in_region,
?r)" — i.e. the SPARQL basic-graph-pattern fragment [pub: SPARQL 1.1,
W3C]. This module compiles a BGP into a DataFrame join tree and lets
Catalyst/AQE pick the physical plan.

Compilation model (one pattern = one filtered scan of the triples
relation, one shared variable = one equi-join key):

* Each triple pattern ``(s, p, o)`` — strings, ``?name`` marks a
  variable — becomes a scan of the triples DataFrame with every BOUND
  position pushed down as an equality filter and every variable
  position projected out under its variable name. Bound-position
  filters are sargable predicates on the scan, so with the triples
  table partitioned by ``pred`` (how ``jobs/link_materialize.py``
  writes it) a bound predicate prunes partitions before any shuffle.
* A variable repeated WITHIN a pattern (e.g. ``(?x, likes, ?x)``)
  becomes an intra-scan equality filter.
* Patterns are joined on their shared variables. Join ORDER is chosen
  by a deterministic selectivity heuristic: most-bound-positions
  first (a fully/doubly bound pattern yields the smallest scan), then
  connectivity — each next pattern must share a variable with the
  accumulated bindings when possible, so the plan stays a chain of
  equi-joins and a Cartesian product only appears when the BGP itself
  is disconnected (rejected by default, see ``allow_cartesian``).
* The result is one row per binding of the selected variables.

Scale posture (10^12-triple table): every join is a hash equi-join on
variable columns; AQE turns the small side into a broadcast when a
selective pattern (bound pred + bound subj/obj) shrinks it below the
threshold, and skew-join splitting handles hub entities (the same hubs
``materialize._salted_triple_agg`` already handles on the write side).
No driver-side materialization: the compiler builds the plan, the
caller decides the action.

The module covers the useful SPARQL 1.1 fragment end to end:
``optional_patterns`` (OPTIONAL — left join per group),
``exists_patterns``/``not_exists_patterns`` (FILTER (NOT) EXISTS —
semi/anti joins on shared variables), ``filters`` (pre-OPTIONAL,
pushed down when legal) and ``post_filters`` (after OPTIONAL —
negation-by-failure over NULL bindings), ``bind`` (BIND derived
columns), :func:`bgp_aggregate` (GROUP BY/HAVING with partial+final
hash aggregation), :func:`construct` (CONSTRUCT — derive a new
triples-schema graph), :func:`describe` (DESCRIBE — depth-1 symmetric
resource neighborhood in the triples schema), ``union_patterns`` (UNION of whole binding
groups, disjoint variables NULL-padded), ``minus_patterns`` (SPARQL
MINUS — anti-join on shared variables, disjoint groups remove
nothing), ``values`` (inline VALUES binding rows), property paths —
bounded (:class:`Path`, inverse ``^p``, alternation lists,
:class:`Seq` sequences, :class:`Neg` negated property sets) AND
unbounded closure ``p+``/``p*`` (``Path(p, 1, None)`` — a
checkpointed fixpoint, seeded from a bound endpoint when the pattern
has one) — and the ASK verb on the ``jobs/kg_query.py`` CLI. Whole-graph
analytics (PageRank, CC, SCC, …) live in :mod:`antnre_spark.graph`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from antnre_spark.schema import local_frame

Pattern = tuple[str, object, str]

_POSITIONS = ("subj", "pred", "obj")

#: bounded (level-unrolled) property paths stop here; longer or
#: unknown-depth reachability uses the fixpoint path (``Path(p, m,
#: None)`` → :func:`closure_pairs`), which is a different algorithm —
#: checkpointed frontier iteration, not unrolled joins.
MAX_PATH_HOPS = 8

#: fixpoint-round caps for :func:`closure_pairs` (honest-failure
#: posture, like ``graph.strongly_connected_components``): doubling
#: rounds cover path length 2^k, so 20 rounds ≈ 10^6-edge diameters;
#: seeded BFS rounds are linear in the longest path from the seeds.
MAX_CLOSURE_DOUBLING_ROUNDS = 20
MAX_CLOSURE_BFS_ROUNDS = 128


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _invert_pred(pred):
    """Invert a predicate term: ``p`` ↔ ``^p``, alternation lists
    element-wise, Seq = reversed inverted steps — used to seed a
    closure from a bound OBJECT. Neg is forward-only by spec: raises,
    and the caller falls back to the full (unseeded) closure."""
    if isinstance(pred, str):
        return pred[1:] if pred.startswith("^") else "^" + pred
    if isinstance(pred, Seq):
        return Seq(*[_invert_pred(p) for p in reversed(pred.steps)])
    if isinstance(pred, Neg):
        raise ValueError(
            "negated property sets are forward-only; cannot invert"
        )
    return [_invert_pred(p) for p in pred]


class Seq:
    """Sequence path (SPARQL ``p1/p2/...``): endpoint pairs connected
    by one edge of each step predicate IN ORDER — compiled as a chain
    of equi-joins on the intermediate vertices. Steps accept every
    predicate form (names, ``^inverse``, alternation lists, nested
    Seq/Neg), so ``Seq("in_nation", "in_region")`` matches
    customer→region without naming the nation variable."""

    __slots__ = ("steps",)

    def __init__(self, *steps):
        if len(steps) < 2:
            raise ValueError("Seq needs at least 2 steps")
        self.steps = steps

    def __repr__(self) -> str:
        return f"Seq{self.steps!r}"


class Neg:
    """Negated property set (SPARQL ``!(p1|p2|...)``): endpoint pairs
    connected by an edge whose predicate is NOT one of the named ones
    (forward edges only — the spec's forward-only form). Compiles to a
    single NOT-IN filtered scan; still one sargable scan of the triples
    relation."""

    __slots__ = ("preds",)

    def __init__(self, *preds):
        if not preds or any(not isinstance(p, str) for p in preds):
            raise ValueError("Neg takes 1+ plain predicate names")
        self.preds = preds

    def __repr__(self) -> str:
        return f"Neg{self.preds!r}"


def _pred_edge(triples: DataFrame, pred) -> DataFrame:
    """(a, b) pairs for one predicate term: a plain predicate, an
    alternation (list/tuple/set of predicates — SPARQL ``p1|p2``), an
    inverse ``^p`` (SPARQL inverse path: matches obj->subj), a
    :class:`Seq` sequence path, or a :class:`Neg` negated property
    set."""
    if isinstance(pred, Seq):
        out = _pred_edge(triples, pred.steps[0])
        for step in pred.steps[1:]:
            nxt = _pred_edge(triples, step).select(
                F.col("a").alias("m"), "b"
            )
            out = (
                out.select("a", F.col("b").alias("m"))
                .join(nxt, "m")
                .select("a", "b")
            )
        return out
    if isinstance(pred, Neg):
        return triples.filter(~F.col("pred").isin(list(pred.preds))).select(
            F.col("subj").alias("a"), F.col("obj").alias("b")
        )
    if isinstance(pred, str) and pred.startswith("^"):
        return _pred_edge(triples, pred[1:]).select(
            F.col("b").alias("a"), F.col("a").alias("b")
        )
    if isinstance(pred, str):
        cond = F.col("pred") == F.lit(pred)
    else:
        alts = list(pred)
        if not alts:
            raise ValueError("empty predicate alternation")
        inv = [p[1:] for p in alts if p.startswith("^")]
        fwd = [p for p in alts if not p.startswith("^")]
        parts = []
        if fwd:
            parts.append(
                triples.filter(F.col("pred").isin(fwd)).select(
                    F.col("subj").alias("a"), F.col("obj").alias("b")
                )
            )
        if inv:
            parts.append(
                triples.filter(F.col("pred").isin(inv)).select(
                    F.col("obj").alias("a"), F.col("subj").alias("b")
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    return triples.filter(cond).select(
        F.col("subj").alias("a"), F.col("obj").alias("b")
    )


def path_pairs(
    triples: DataFrame, pred, min_hops: int, max_hops: int
) -> DataFrame:
    """Distinct (a, b) endpoint pairs connected by a ``pred`` path of
    ``min_hops..max_hops`` edges — the bounded fragment of SPARQL
    property paths (``p{m,n}``), path EXISTENCE semantics (set, not
    bag). ``pred`` accepts the same forms as a pattern predicate:
    name, ``^name``, or an alternation list.

    Execution: iterated equi-join of the (deduped, persisted) single-
    hop edge set against the growing frontier, distinct after every
    hop so intermediate cardinality is bounded by |V|^2 worst case and
    in practice by the reachable pair set — the same frontier shape as
    ``graph.n_hop``. Bounded by ``MAX_PATH_HOPS``; unbounded closure
    routes through :func:`closure_pairs` (a fixpoint, not unrolled
    joins — see the module constant).
    """
    if not (1 <= min_hops <= max_hops <= MAX_PATH_HOPS):
        raise ValueError(
            f"path hops must satisfy 1 <= min <= max <= {MAX_PATH_HOPS}: "
            f"({min_hops}, {max_hops})"
        )
    # No persist: the single-hop edge subtree repeats across levels,
    # but its distinct is an identical exchange every time, so Spark's
    # ReuseExchange computes it once per action — and leaving it
    # unpersisted keeps this module free of caller-invisible caches
    # (the repo's zero-leaked-cache rule).
    edge = _pred_edge(triples, pred).distinct()
    hop_b = edge.select(F.col("a").alias("m"), F.col("b"))
    levels = [edge] if min_hops <= 1 else []
    cur = edge
    for k in range(2, max_hops + 1):
        cur = (
            cur.select("a", F.col("b").alias("m"))
            .join(hop_b, "m")
            .select("a", "b")
            .distinct()
        )
        if k >= min_hops:
            levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.distinct()


def closure_pairs(
    triples: DataFrame,
    pred,
    min_hops: int = 1,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Distinct (a, b) pairs connected by a ``pred`` path of ANY
    length ≥ ``min_hops`` — unbounded SPARQL closure: ``p+`` is
    ``min_hops=1``, ``p*`` is ``min_hops=0``. ``pred`` accepts the
    same forms as :func:`path_pairs` (name, ``^name``, alternation
    list). Path EXISTENCE semantics (set, not bag).

    Two fixpoint strategies, both with per-round lineage cuts
    (``link._cut_lineage`` — persist alone lets the
    loop-carried plan grow geometrically):

    * ``sources`` given (a DataFrame whose first column holds seed
      vertices — how :func:`_endpoint_scan` calls this when the
      pattern binds an endpoint): semi-naive frontier BFS from the
      seeds. Per round one equi-join of the NEW pairs against the
      single-hop edge set and one anti-join against the seen set;
      rounds = longest simple path from the seeds (capped,
      RuntimeError past ``MAX_CLOSURE_BFS_ROUNDS``). This is the
      10^12-triple-safe form: the state is O(|reachable pairs from
      seeds|), never the whole graph's closure.
    * no ``sources``: full transitive closure by pointer DOUBLING —
      ``seen ⋈ seen`` covers path length 2^k after k rounds (the same
      O(log diameter) trick graph.py's SCC uses), fixpoint detected by
      a stable pair count. Worst case the closure itself is |V|², so
      at true KG scale prefer a bound endpoint or a pre-filtered
      predicate (taxonomy closures — ``subclass_of*`` — are the
      designed use).

    ``min_hops=0`` adds reflexive rows: (s, s) for every seed when
    seeded, else (v, v) for every vertex incident to a ``pred`` edge
    (the standard finite-graph reading of SPARQL's zero-length path).
    """
    if min_hops not in (0, 1):
        raise ValueError(
            f"unbounded closure supports min_hops 0 (p*) or 1 (p+), "
            f"got {min_hops}"
        )
    from .link import _cut_lineage

    edge = _pred_edge(triples, pred).distinct()
    if sources is not None:
        seed = sources.select(
            F.col(sources.columns[0]).alias("a")
        ).distinct()
        seen = _cut_lineage(
            seed.join(edge, "a").select("a", "b").distinct()
        )
        delta = seen
        for _ in range(MAX_CLOSURE_BFS_ROUNDS):
            delta = _cut_lineage(
                delta.select("a", F.col("b").alias("m"))
                .join(edge.select(F.col("a").alias("m"), "b"), "m")
                .select("a", "b")
                .distinct()
                .join(seen, ["a", "b"], "left_anti")
            )
            # emptiness checked on the delta JUST computed: a
            # top-of-loop check made a fixpoint reached exactly at the
            # cap raise spuriously (the effective cap was N-1)
            if delta.isEmpty():
                break
            seen = seen.unionByName(delta)  # union of checkpointed frames
        else:
            raise RuntimeError(
                f"closure_pairs: no fixpoint after "
                f"{MAX_CLOSURE_BFS_ROUNDS} BFS rounds (path deeper than "
                "the cap — raise MAX_CLOSURE_BFS_ROUNDS or bound the "
                "path)"
            )
        if min_hops == 0:
            seen = seen.unionByName(
                seed.select("a", F.col("a").alias("b"))
            ).distinct()
        return seen
    seen = _cut_lineage(edge)
    n = seen.count()
    for _ in range(MAX_CLOSURE_DOUBLING_ROUNDS):
        nxt = _cut_lineage(
            seen.select("a", F.col("b").alias("m"))
            .join(seen.select(F.col("a").alias("m"), "b"), "m")
            .select("a", "b")
            .unionByName(seen)
            .distinct()
        )
        m = nxt.count()
        seen = nxt
        if m == n:  # no new pair at double the length: fixpoint
            break
        n = m
    else:
        raise RuntimeError(
            f"closure_pairs: no fixpoint after "
            f"{MAX_CLOSURE_DOUBLING_ROUNDS} doubling rounds "
            "(diameter > 2^20 edges?)"
        )
    if min_hops == 0:
        verts = (
            edge.select("a")
            .unionByName(edge.select(F.col("b").alias("a")))
            .distinct()
        )
        seen = seen.unionByName(
            verts.select("a", F.col("a").alias("b"))
        ).distinct()
    return seen


class Path:
    """Property-path predicate for a pattern's middle term:
    ``Path("knows", 1, 3)`` matches subject→object pairs connected by
    1..3 ``knows`` edges (SPARQL ``knows{1,3}``); ``max_hops=None``
    makes the path UNBOUNDED — ``Path(p, 1, None)`` is SPARQL ``p+``,
    ``Path(p, 0, None)`` is ``p*`` (compiled by :func:`closure_pairs`,
    seeded from a bound endpoint when the pattern has one). The
    predicate also accepts ``^name`` (inverse) and alternation lists,
    composing with :func:`path_pairs`."""

    __slots__ = ("pred", "min_hops", "max_hops")

    def __init__(self, pred, min_hops: int = 1, max_hops: int | None = 1):
        if max_hops is None and min_hops not in (0, 1):
            raise ValueError(
                f"unbounded Path needs min_hops 0 or 1, got {min_hops}"
            )
        self.pred = pred
        self.min_hops = min_hops
        self.max_hops = max_hops

    def __repr__(self) -> str:  # error messages
        return f"Path({self.pred!r}, {self.min_hops}, {self.max_hops})"


def _endpoint_scan(
    triples: DataFrame, pattern: Pattern
) -> tuple[DataFrame, set]:
    """Scan for patterns whose predicate is a Path, an inverse ``^p``,
    or an alternation list: resolve the predicate to (a, b) endpoint
    pairs, then bind the subject/object terms exactly like positions
    of a plain scan."""
    s_term, p_term, o_term = pattern
    if isinstance(p_term, Path) and p_term.max_hops is None:
        # unbounded closure: seed the fixpoint from a bound endpoint
        # when the pattern has one (the scale-safe form) — a bound
        # OBJECT seeds the closure of the INVERTED predicate, then the
        # pairs are swapped back so the generic binding loop below sees
        # forward (a=subject-side, b=object-side) orientation.
        spark = triples.sparkSession
        if not _is_var(s_term):
            seed = local_frame(spark, [(s_term,)], "a string")
            pairs = closure_pairs(
                triples, p_term.pred, p_term.min_hops, sources=seed
            )
        elif not _is_var(o_term):
            try:
                inv = _invert_pred(p_term.pred)
            except ValueError:  # Neg: forward-only — full closure, the
                inv = None      # bound-term filter below restricts it
            if inv is not None:
                seed = local_frame(spark, [(o_term,)], "a string")
                pairs = closure_pairs(
                    triples, inv, p_term.min_hops, sources=seed,
                ).select(F.col("b").alias("a"), F.col("a").alias("b"))
            else:
                pairs = closure_pairs(
                    triples, p_term.pred, p_term.min_hops
                )
        else:
            pairs = closure_pairs(triples, p_term.pred, p_term.min_hops)
    elif isinstance(p_term, Path):
        pairs = path_pairs(
            triples, p_term.pred, p_term.min_hops, p_term.max_hops
        )
    else:
        pairs = _pred_edge(triples, p_term)
    df = pairs
    var_to_cols: dict[str, list] = {}
    for col_, term in (("a", s_term), ("b", o_term)):
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"empty variable name in {pattern!r}")
            var_to_cols.setdefault(name, []).append(col_)
        else:
            df = df.filter(F.col(col_) == F.lit(term))
    for name, cols in var_to_cols.items():
        for extra in cols[1:]:
            df = df.filter(F.col(cols[0]) == F.col(extra))
    proj = [F.col(cols[0]).alias(name) for name, cols in var_to_cols.items()]
    if not proj:
        return df.select(F.lit(1).alias("__exists")).limit(1), set()
    return df.select(*proj), set(var_to_cols)


def _scan(triples: DataFrame, pattern: Pattern) -> tuple[DataFrame, set]:
    """One filtered+projected scan for one triple pattern.

    Returns (DataFrame with one column per distinct variable, set of
    variable names). Bound positions become pushed-down equality
    filters; a repeated variable becomes an intra-scan equality.
    Predicates that are Paths, inverses, or alternations route through
    the endpoint scan.
    """
    if len(pattern) != 3:
        raise ValueError(f"pattern must be (s, p, o): {pattern!r}")
    p_term = pattern[1]
    if isinstance(p_term, Path) or not isinstance(p_term, str) or (
        p_term.startswith("^")
    ):
        return _endpoint_scan(triples, pattern)
    df = triples
    var_to_cols: dict[str, list] = {}
    for pos, term in zip(_POSITIONS, pattern):
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"empty variable name in {pattern!r}")
            var_to_cols.setdefault(name, []).append(pos)
        else:
            df = df.filter(F.col(pos) == F.lit(term))
    for name, cols in var_to_cols.items():
        for extra in cols[1:]:
            df = df.filter(F.col(cols[0]) == F.col(extra))
    proj = [F.col(cols[0]).alias(name) for name, cols in var_to_cols.items()]
    if not proj:
        # fully bound: an existence gate — project a constant marker.
        return df.select(F.lit(1).alias("__exists")).limit(1), set()
    return df.select(*proj), set(var_to_cols)


def predicate_stats(triples: DataFrame) -> dict[str, int]:
    """One-pass per-predicate row counts — the cardinality hint for
    stats-aware join ordering (pass the dict as ``bgp_query(...,
    stats=...)``). One ``groupBy(pred).count()`` over the triples
    relation; the result is |distinct predicates| rows (KG predicate
    vocabularies are small — tens to thousands — so collecting to the
    driver and broadcasting inside the plan literals is the right
    shape even at 10^12 triples; cache the dict across queries, the
    way ``jobs/kg_query.py --stats`` does per run)."""
    return {
        r["pred"]: r["n"]
        for r in triples.groupBy("pred").agg(F.count("*").alias("n"))
        .collect()
    }


def predicate_stats_from_manifest(table) -> dict[str, int] | None:
    """Per-predicate row counts read from an IceLite MANIFEST — free at
    any scale when the table is partitioned by ``pred`` (exactly how
    ``jobs/link_materialize.py`` writes the triples table): sums the
    live files' parquet row counts per ``partitions['pred']`` entry, no
    Spark job at all. At 10^12 triples this replaces the one-pass scan
    :func:`predicate_stats` costs with a metadata read. Returns None
    when the table has no snapshot or any live file lacks a ``pred``
    partition value (unpartitioned or differently-partitioned table) —
    callers fall back to the scan. Partition values are stored in
    Spark's path-escaped form; ``unquote`` restores predicates that
    contain path-special characters (identifier-style vocabularies are
    untouched)."""
    from urllib.parse import unquote

    snap = table.current_snapshot()
    if snap is None:
        return None
    out: dict[str, int] = {}
    for f in table.manifest(snap)["files"]:
        pred = f.get("partitions", {}).get("pred")
        if pred is None:
            return None
        pred = unquote(pred)
        out[pred] = out.get(pred, 0) + f["rows"]
    return out


#: selectivity credit per bound subject/object position when
#: estimating a pattern's scan cardinality from predicate stats —
#: a fixed, deterministic divisor (no per-value stats are kept).
_BOUND_TERM_SELECTIVITY = 100.0


def _est_cost(p: Pattern, stats: dict[str, int]) -> float:
    """Estimated scan cardinality of one pattern under per-predicate
    counts: bound plain predicate → its count (0 if absent — an empty
    scan is maximally selective); variable predicate → the whole
    relation; alternations/inverses → sum of constituent predicate
    counts; Path → constituent sum (closure growth is unknowable
    without path stats — the bound-endpoint divisor below is what
    makes seeded closures rank early). Each bound subject/object
    divides by ``_BOUND_TERM_SELECTIVITY``."""
    pred = p[1]
    if isinstance(pred, Path):
        pred = pred.pred
    if isinstance(pred, Seq):
        # chain cardinality is join-dependent; the deterministic proxy
        # is the largest step (bounded endpoints still divide below)
        est = max(
            _est_cost(("?a", s, "?b"), stats) for s in pred.steps
        )
        for term in (p[0], p[2]):
            if not _is_var(term):
                est /= _BOUND_TERM_SELECTIVITY
        return est
    if isinstance(pred, Neg):
        est = float(
            sum(stats.values()) - sum(stats.get(q, 0) for q in pred.preds)
        )
        for term in (p[0], p[2]):
            if not _is_var(term):
                est /= _BOUND_TERM_SELECTIVITY
        return est
    if isinstance(pred, str) and not pred.startswith("^"):
        est = float(stats.get(pred, 0)) if not _is_var(pred) else float(
            sum(stats.values())
        )
    elif isinstance(pred, str):  # inverse ^p
        est = float(stats.get(pred[1:], 0))
    else:  # alternation list
        est = float(
            sum(stats.get(q[1:] if q.startswith("^") else q, 0)
                for q in pred)
        )
    for term in (p[0], p[2]):
        if not _is_var(term):
            est /= _BOUND_TERM_SELECTIVITY
    return est


def _order(
    patterns: list[Pattern],
    allow_cartesian: bool,
    stats: dict[str, int] | None = None,
) -> list[int]:
    """Deterministic join order: seed with the cheapest pattern, then
    greedily extend along shared variables, cheapest first. "Cheapest"
    is estimated cardinality when per-predicate ``stats`` are given
    (so two one-bound patterns with wildly different predicate
    frequencies rank by actual size), else the syntactic most-bound
    heuristic; the (-bound_count, index) tie-break keeps the order
    deterministic either way. Raises on a disconnected BGP unless
    ``allow_cartesian``."""

    def bound_count(p: Pattern) -> int:
        return sum(0 if _is_var(t) else 1 for t in p)

    def pvars(p: Pattern) -> set:
        return {t[1:] for t in p if _is_var(t)}

    remaining = list(range(len(patterns)))
    if stats is not None:
        remaining.sort(
            key=lambda i: (
                _est_cost(patterns[i], stats),
                -bound_count(patterns[i]),
                i,
            )
        )
    else:
        remaining.sort(key=lambda i: (-bound_count(patterns[i]), i))
    order: list[int] = []
    seen_vars: set = set()
    while remaining:
        pick = None
        for i in remaining:
            if not order or (pvars(patterns[i]) & seen_vars):
                pick = i
                break
        if pick is None:
            if not allow_cartesian:
                raise ValueError(
                    "disconnected BGP (no shared variable with the "
                    "accumulated patterns); pass allow_cartesian=True "
                    "to accept the product"
                )
            pick = remaining[0]
        order.append(pick)
        seen_vars |= pvars(patterns[pick])
        remaining.remove(pick)
    return order


def _join_group(
    triples: DataFrame,
    patterns: list[Pattern],
    allow_cartesian: bool,
    stats: dict[str, int] | None = None,
) -> tuple[DataFrame, set]:
    """Join one pattern group into a bindings DataFrame.

    Fully bound patterns (no variables) are existence GATES: they can't
    participate in the connectivity order (they bind nothing), so they
    are applied last as a crossJoin with a 0-or-1-row scan — the result
    keeps or empties the bindings without changing their shape.
    """
    gates = [p for p in patterns if not any(_is_var(t) for t in p)]
    varpats = [p for p in patterns if any(_is_var(t) for t in p)]
    acc = None
    acc_vars: set = set()
    if varpats:
        order = _order(varpats, allow_cartesian, stats)
        for i in order:
            scan, svars = _scan(triples, varpats[i])
            if acc is None:
                acc, acc_vars = scan, svars
                continue
            shared = sorted(acc_vars & svars)
            if shared:
                acc = acc.join(scan, on=shared, how="inner")
            else:  # sanctioned Cartesian product (allow_cartesian)
                acc = acc.crossJoin(scan)
            acc_vars |= svars
    for g in gates:
        gate, _ = _scan(triples, g)
        acc = gate if acc is None else acc.crossJoin(gate).drop("__exists")
    if acc is None:
        raise ValueError("empty pattern list")
    if "__exists" in acc.columns:
        acc = acc.drop("__exists")
    return acc, acc_vars


def bgp_query(
    triples: DataFrame,
    patterns: list[Pattern],
    union_patterns: list[list[Pattern]] | None = None,
    optional_patterns: list[list[Pattern]] | None = None,
    exists_patterns: list[list[Pattern]] | None = None,
    not_exists_patterns: list[list[Pattern]] | None = None,
    minus_patterns: list[list[Pattern]] | None = None,
    values: list[dict[str, str]] | None = None,
    filters: list[str] | None = None,
    post_filters: list[str] | None = None,
    bind: dict[str, str] | None = None,
    select: list[str] | None = None,
    distinct: bool = False,
    allow_cartesian: bool = False,
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """Compile a basic graph pattern into a DataFrame of variable
    bindings.

    ``patterns``: required conjunctive patterns; ``optional_patterns``:
    groups left-joined on their shared variables (unmatched → NULL,
    SPARQL OPTIONAL); ``exists_patterns`` / ``not_exists_patterns``:
    groups applied as correlated existence tests on their shared
    variables — SPARQL ``FILTER (NOT) EXISTS`` — compiled to LEFT SEMI
    / LEFT ANTI joins, so they keep or drop bindings without ever
    multiplying them, and the group's non-shared variables stay
    existentially quantified (never projected); a group must share ≥1
    variable with the required patterns (an uncorrelated existence
    test is a fully-bound GATE pattern in ``patterns``); ``filters``:
    SQL boolean expressions over the REQUIRED-pattern variable
    columns, applied after the required joins and BEFORE the optional
    joins (Catalyst pushes them down when legal) — a filter naming an
    optional-only variable is an analysis error by design;
    ``post_filters``: SQL boolean expressions applied AFTER the
    optional joins, where optional variables are visible and NULL when
    unbound (SPARQL's ``FILTER(!bound(?x))`` idiom is ``"x IS NULL"``
    here) — these cannot be pushed below the left joins when they
    reference optional variables, so prefer ``filters`` for anything
    that only names required variables; ``bind``: new variable -> SQL
    expression over the bound variables (SPARQL BIND), computed after
    the joins and post_filters, visible to ``select`` (a pure
    projection — Catalyst collapses it into the final project, no
    extra stage); ``select``: variable names to project (default: all,
    sorted); ``distinct``: set semantics.

    Scale posture of the existence tests: semi/anti are hash joins on
    the shared variables that ship only the group's DISTINCT key side
    — AQE broadcasts it when a selective group shrinks below the
    threshold, and no binding row ever fans out.

    ``union_patterns``: groups forming a SPARQL UNION — the result is
    the bag-union of each group's bindings, joined with the required
    patterns when any exist (``A . {B UNION C}`` ≡ ``(A.B) UNION
    (A.C)``, per the SPARQL algebra); variables a group does not bind
    are NULL-padded (SPARQL's unbound), so disjoint-variable groups
    union cleanly; set semantics come from the ``distinct`` flag.

    DOCUMENTED DIVERGENCE on NULL-padded bindings downstream: the
    existence verbs (``exists_patterns`` / ``not_exists_patterns`` /
    ``minus_patterns``) compare on the shared variables with equality
    join keys, and a NULL key never matches — so a binding whose
    shared variable is unbound (NULL from a union branch) FAILS every
    EXISTS test (SPARQL's compatibility rule would let the unbound
    variable match anything) and survives every NOT EXISTS / MINUS.
    This is the hash-joinable semantics; the spec-exact rule needs a
    per-row variable join-key set (a non-equi OR join — not a hash
    join at 10^12 rows). Queries mixing union-padded variables into
    existence tests should test on variables every branch binds.
    With UNION groups present, ``patterns`` may be empty (a pure
    ``{A} UNION {B}`` query). ``filters`` apply AFTER the union (they
    may reference union variables — NULL where a branch leaves them
    unbound); Catalyst still pushes each conjunct into the branches
    where legal.

    ``minus_patterns``: groups applied as SPARQL MINUS — a binding is
    removed when the group yields a compatible binding sharing ≥1
    variable. Compiled as LEFT ANTI on the shared variables, like
    ``not_exists_patterns``, with the spec's one divergence honored:
    a group sharing NO variable with the bindings removes NOTHING
    (MINUS over disjoint domains is a no-op, where NOT EXISTS would
    empty the result — the reason both verbs exist).

    ``values``: inline binding rows (SPARQL VALUES) — a list of
    ``{var: value}`` dicts (missing keys = unbound = NULL). Compiled
    to a literal DataFrame inner-joined on the shared variables right
    after the required patterns (it is usually the most selective
    relation in the query; Catalyst broadcasts it). With no required
    patterns it SEEDS the bindings. A NULL (unbound) value in a VALUES
    row joins nothing under join-key semantics, so keep VALUES rows
    fully bound per variable column — partial rows belong in a UNION.

    ``stats``: optional per-predicate row counts (see
    :func:`predicate_stats`) switching the join order from the
    syntactic most-bound heuristic to estimated-cardinality order.
    """
    if patterns:
        acc, acc_vars = _join_group(
            triples, patterns, allow_cartesian, stats
        )
    elif union_patterns or values:
        acc, acc_vars = None, set()
    else:
        raise ValueError("empty pattern list")
    if values:
        vvars = sorted({k for row in values for k in row})
        if not vvars:
            raise ValueError("empty VALUES rows")
        vdf = local_frame(
            triples.sparkSession,
            [tuple(row.get(v) for v in vvars) for row in values],
            ", ".join(f"{v} string" for v in vvars),
        )
        if acc is None:
            acc, acc_vars = vdf, set(vvars)
        else:
            shared = sorted(acc_vars & set(vvars))
            if shared:
                acc = acc.join(vdf, on=shared, how="inner")
            elif allow_cartesian:
                acc = acc.crossJoin(vdf)
            else:
                raise ValueError(
                    "VALUES shares no variable with the required "
                    "patterns; pass allow_cartesian=True for the product"
                )
            acc_vars |= set(vvars)
    if union_patterns:
        branches: list[tuple[DataFrame, set]] = []
        for group in union_patterns:
            sub, svars = _join_group(
                triples, group, allow_cartesian, stats
            )
            if acc is None:
                branches.append((sub, svars))
                continue
            shared = sorted(acc_vars & svars)
            if shared:
                branches.append(
                    (acc.join(sub, on=shared, how="inner"),
                     acc_vars | svars)
                )
            elif allow_cartesian:
                branches.append((acc.crossJoin(sub), acc_vars | svars))
            else:
                raise ValueError(
                    f"union group {group!r} shares no variable with the "
                    "required patterns; pass allow_cartesian=True to "
                    "accept the product"
                )
        acc_vars = set().union(*(bv for _, bv in branches))
        acc = None
        for b, _ in branches:
            acc = b if acc is None else acc.unionByName(
                b, allowMissingColumns=True
            )
    for expr in filters or []:
        acc = acc.filter(F.expr(expr))
    for how, groups in (
        ("semi", exists_patterns or []),
        ("anti", not_exists_patterns or []),
    ):
        for group in groups:
            sub, svars = _join_group(
                triples, group, allow_cartesian, stats
            )
            shared = sorted(acc_vars & svars)
            if not shared:
                raise ValueError(
                    f"existence group {group!r} shares no variable with "
                    "the required patterns (use a fully-bound gate "
                    "pattern for an uncorrelated existence test)"
                )
            # distinct BEFORE the join: the test only needs key
            # presence, so a group matching a binding many times ships
            # one key row into the semi/anti shuffle, not a row per
            # match (the docstring's scale claim, made true here)
            acc = acc.join(
                sub.select(*shared).distinct(), on=shared, how=how
            )
    for group in minus_patterns or []:
        sub, svars = _join_group(triples, group, allow_cartesian, stats)
        shared = sorted(acc_vars & svars)
        if not shared:
            continue  # SPARQL MINUS over disjoint domains removes nothing
        acc = acc.join(sub.select(*shared).distinct(), on=shared,
                       how="anti")
    for group in optional_patterns or []:
        opt, ovars = _join_group(
            triples, group, allow_cartesian, stats
        )
        shared = sorted(acc_vars & ovars)
        if not shared:
            raise ValueError(
                f"optional group {group!r} shares no variable with the "
                "required patterns"
            )
        acc = acc.join(opt, on=shared, how="left")
        acc_vars |= ovars
    for expr in post_filters or []:
        acc = acc.filter(F.expr(expr))
    for name, expr in sorted((bind or {}).items()):
        if name in acc.columns:
            raise ValueError(f"bind name shadows an existing variable: "
                             f"{name!r}")
        acc = acc.withColumn(name, F.expr(expr))
        acc_vars |= {name}
    out_cols = select if select is not None else sorted(acc_vars)
    missing = [c for c in out_cols if c not in acc.columns]
    if missing:
        raise ValueError(f"select names unknown variables: {missing}")
    acc = acc.select(*out_cols)
    return acc.distinct() if distinct else acc


def bgp_aggregate(
    triples: DataFrame,
    patterns: list[Pattern],
    group_by: list[str],
    aggs: dict[str, str],
    union_patterns: list[list[Pattern]] | None = None,
    optional_patterns: list[list[Pattern]] | None = None,
    exists_patterns: list[list[Pattern]] | None = None,
    not_exists_patterns: list[list[Pattern]] | None = None,
    minus_patterns: list[list[Pattern]] | None = None,
    values: list[dict[str, str]] | None = None,
    filters: list[str] | None = None,
    post_filters: list[str] | None = None,
    having: list[str] | None = None,
    allow_cartesian: bool = False,
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """SPARQL GROUP BY fragment: aggregate the BGP's variable bindings.

    ``group_by``: variable names forming the grouping key (empty list =
    one global group); ``aggs``: output column -> SQL aggregate
    expression over the variable columns (``{"n_staff": "count(DISTINCT
    p)"}``); ``having``: SQL boolean expressions over the grouping keys
    and aggregate aliases, applied after the aggregation (SPARQL
    HAVING). Pattern/filter semantics are exactly ``bgp_query``'s.

    Scale posture: the plan is the BGP join tree feeding a hash
    aggregate on the grouping variables — Catalyst emits a partial
    (map-side) aggregate before the exchange, so per-group state, not
    bindings, crosses the shuffle; a hub group costs one combiner per
    upstream partition, not a row per binding.
    """
    if not aggs:
        raise ValueError("empty aggs: provide at least one aggregate")
    bind = bgp_query(
        triples,
        patterns,
        union_patterns=union_patterns,
        optional_patterns=optional_patterns,
        exists_patterns=exists_patterns,
        not_exists_patterns=not_exists_patterns,
        minus_patterns=minus_patterns,
        values=values,
        filters=filters,
        post_filters=post_filters,
        allow_cartesian=allow_cartesian,
        stats=stats,
    )
    missing = [g for g in group_by if g not in bind.columns]
    if missing:
        raise ValueError(f"group_by names unknown variables: {missing}")
    clash = [name for name in aggs if name in group_by]
    if clash:
        raise ValueError(f"agg aliases collide with group_by: {clash}")
    exprs = [F.expr(e).alias(name) for name, e in sorted(aggs.items())]
    out = (
        bind.groupBy(*group_by).agg(*exprs)
        if group_by
        else bind.agg(*exprs)
    )
    for expr in having or []:
        out = out.filter(F.expr(expr))
    return out


def construct(
    triples: DataFrame,
    patterns: list[Pattern],
    template: list[Pattern],
    union_patterns: list[list[Pattern]] | None = None,
    optional_patterns: list[list[Pattern]] | None = None,
    exists_patterns: list[list[Pattern]] | None = None,
    not_exists_patterns: list[list[Pattern]] | None = None,
    minus_patterns: list[list[Pattern]] | None = None,
    values: list[dict[str, str]] | None = None,
    filters: list[str] | None = None,
    post_filters: list[str] | None = None,
    allow_cartesian: bool = False,
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """SPARQL-CONSTRUCT fragment: run the BGP, then instantiate each
    ``template`` triple (terms are variables or literals) once per
    binding — deriving a NEW graph from the matched one (e.g. collapse
    a 2-hop chain into a direct edge). Output schema is the triples
    schema (subj, pred, obj); per the CONSTRUCT spec the result is a
    SET (distinct) and template rows with an unbound (NULL, from an
    OPTIONAL) variable are dropped.

    The derived graph is IceLite/`materialize`-shaped, so it composes:
    feed it back to ``bgp_query``/``graph.kg_edges`` or write it as a
    table via ``jobs/kg_query.py --construct``.
    """
    if not template:
        raise ValueError("empty CONSTRUCT template")
    tvars = {t[1:] for pat in template for t in pat if _is_var(t)}
    bind = bgp_query(
        triples,
        patterns,
        union_patterns=union_patterns,
        optional_patterns=optional_patterns,
        exists_patterns=exists_patterns,
        not_exists_patterns=not_exists_patterns,
        minus_patterns=minus_patterns,
        values=values,
        filters=filters,
        post_filters=post_filters,
        select=sorted(tvars) or None,
        allow_cartesian=allow_cartesian,
        stats=stats,
    )

    def term(t):
        return F.col(t[1:]) if _is_var(t) else F.lit(t)

    parts = []
    for pat in template:
        if len(pat) != 3 or any(not isinstance(t, str) for t in pat):
            raise ValueError(
                f"template triple must be 3 plain terms: {pat!r}"
            )
        row = bind.select(
            term(pat[0]).alias("subj"),
            term(pat[1]).alias("pred"),
            term(pat[2]).alias("obj"),
        )
        parts.append(row)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(
        F.col("subj").isNotNull()
        & F.col("pred").isNotNull()
        & F.col("obj").isNotNull()
    ).distinct()


def describe(triples: DataFrame, resources) -> DataFrame:
    """SPARQL DESCRIBE verb, restricted to the triples relation: every
    triple in which a named resource appears as subject or object —
    the symmetric concise-bounded description, depth 1 (deeper
    neighborhoods are :func:`bgp_query` with paths or
    ``graph.n_hop``'s job). ``resources``: one id or a list. One scan,
    one OR filter; output keeps the full triples schema so the result
    composes with ``--write``/``--table`` like CONSTRUCT graphs do."""
    if isinstance(resources, str):
        resources = [resources]
    if not resources:
        raise ValueError("DESCRIBE needs at least one resource")
    return triples.filter(
        F.col("subj").isin(resources) | F.col("obj").isin(resources)
    )
