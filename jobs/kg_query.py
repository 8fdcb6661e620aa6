"""kg_query job — BGP queries over a materialized KG run (SURVEY.md
§2.H H7): the read-side spark-submit surface. Compiles a JSON query
spec into a DataFrame join tree via ``antnre_spark.kgquery`` and runs
it against the run's ``triples`` table, composing with jobs/extract.py
+ jobs/link_materialize.py exactly like jobs/graph_analytics.py does.

spark-submit --py-files kg.zip jobs/kg_query.py --out <table root> \\
    --query q.json [--write NAME] [--show 10]

Query spec (JSON object):

  {"patterns":  [["?p", "Work_For", "?org"],
                 ["?org", "OrgBased_In", "?loc"]],
   "optional":  [[["?p", "Live_In", "?home"]]],     # groups, left-joined
   "exists":    [[["?p", "Live_In", "?w"]]],        # FILTER EXISTS (semi)
   "not_exists":[[["?p", "Kill", "?v"]]],           # FILTER NOT EXISTS (anti)
   "filters":   ["loc LIKE 'Loc:%'"],               # SQL over required vars
   "post_filters": ["home IS NULL"],                # after OPTIONAL joins
   "bind":      {"away": "loc <> home"},            # SPARQL BIND (derived col)
   "select":    ["p", "org", "loc", "home"],
   "distinct":  false}

``"ask": true`` (SPARQL ASK) replaces select/distinct/aggregation and
prints ``{"ask": true|false}`` — existence of ANY binding, evaluated
with limit(1) (stops at the first row).

A pattern predicate may also be an alternation list
(``["Live_In", "Located_In"]``), an inverse (``"^Work_For"``), a
bounded property path (``{"path": "Located_In", "min": 1, "max": 3}``),
or an UNBOUNDED closure — ``"max": null`` or ``"max": "*"`` — giving
SPARQL ``p+`` (``"min": 1``) / ``p*`` (``"min": 0``), compiled as a
checkpointed fixpoint seeded from a bound endpoint when one exists.

``"union": [[...group A patterns...], [...group B...]]`` adds a SPARQL
UNION of binding groups: each group's bindings are joined with the
required patterns (when any) and unioned, variables a group does not
bind NULL-padded; ``"patterns"`` may be empty/absent with ``"union"``.

``"stats": true`` runs one groupBy(pred).count() pass over the queried
table first and orders the join chain by estimated cardinality instead
of the syntactic most-bound heuristic.

``"describe": "<resource>"`` (or a list) — SPARQL DESCRIBE: the
depth-1 triple neighborhood of the resource(s), in the triples schema
(composable with --write / --table); standalone except
order_by/limit/offset.

More SPARQL verbs (r7): ``"minus": [[...]]`` (SPARQL MINUS — removes
bindings with a compatible match on shared variables; a group sharing
no variable removes nothing, unlike not_exists); ``"values": [{"var":
"value"}, ...]`` (inline VALUES binding rows, joined on shared
variables or seeding the query); ``"offset": N`` (with order_by+limit:
paged top-k). Predicates also accept ``{"seq": [p1, p2, ...]}``
(sequence path ``p1/p2``) and ``{"neg": [p1, ...]}`` (negated property
set ``!(p1|...)``), nestable inside ``{"path": ...}``.

Aggregation (SPARQL GROUP BY; replaces select/distinct/construct):

  {"patterns": [["?p", "Work_For", "?org"]],
   "group_by": ["org"],                      # [] = one global group
   "aggs":     {"n_staff": "count(DISTINCT p)"},
   "having":   ["n_staff >= 3"],             # post-aggregation filter
   "order_by": ["n_staff DESC", "org"],      # any result may order...
   "limit":    10}                           # ...and/or limit (top-k:
                                             # TakeOrderedAndProject,
                                             # never a full sort)

Prints ONE JSON line: row count, the variable columns, and up to
``--show`` sample rows (sorted — deterministic); nothing else reaches
the driver. ``--write NAME`` additionally materializes the full result
as the IceLite table <out>/query_NAME (full-table overwrite, so
re-running a named query replaces its previous rows).
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from antnre_spark.icelite import IceLite  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from antnre_spark.kgquery import (  # noqa: E402
    Neg as KNeg,
    Path as KPath,
    Seq as KSeq,
    bgp_aggregate,
    bgp_query,
    construct,
    describe,
    predicate_stats,
    predicate_stats_from_manifest,
)
from antnre_spark.session import get_spark  # noqa: E402


def _order_col(entry: str) -> F.Column:
    """One ``order_by`` entry: an expression with an optional trailing
    ASC/DESC (case-insensitive). ``F.expr("n DESC")`` alone would parse
    as ``n AS DESC`` and sort ascending."""
    m = re.fullmatch(r"(.*\S)\s+(asc|desc)", entry.strip(), re.IGNORECASE)
    if m is None:
        return F.expr(entry)
    col = F.expr(m.group(1))
    return col.desc() if m.group(2).lower() == "desc" else col.asc()


def _decode_pred(term):
    if isinstance(term, dict) and "seq" in term:
        if set(term) != {"seq"} or len(term["seq"]) < 2:
            raise SystemExit(
                f"sequence path must be {{'seq': [p1, p2, ...]}}: {term!r}"
            )
        return KSeq(*[_decode_pred(p) for p in term["seq"]])
    if isinstance(term, dict) and "neg" in term:
        if set(term) != {"neg"} or not term["neg"]:
            raise SystemExit(
                f"negated property set must be {{'neg': [p1, ...]}}: {term!r}"
            )
        return KNeg(*term["neg"])
    if isinstance(term, dict):
        unknown = set(term) - {"path", "min", "max"}
        if unknown or "path" not in term:
            raise SystemExit(
                f"path predicate must be {{'path': p, 'min': m, 'max': n}} "
                f"(or {{'seq': [...]}} / {{'neg': [...]}}): {term!r}"
            )
        # "max": null or "max": "*" = unbounded closure (SPARQL p+/p*
        # per "min" 1/0) — compiled as a checkpointed fixpoint, seeded
        # from a bound endpoint when the pattern has one.
        raw_max = term.get("max", 1)
        max_hops = None if raw_max in (None, "*") else int(raw_max)
        # the inner predicate may itself be {'seq'}/{'neg'} (the
        # docstring's "nestable inside {'path': ...}") — decode it
        return KPath(
            _decode_pred(term["path"]), int(term.get("min", 1)), max_hops
        )
    return term


def _decode_patterns(raw, what: str):
    out = []
    for p in raw:
        if not isinstance(p, list) or len(p) != 3:
            raise SystemExit(f"{what} pattern must be a [s, p, o] list: {p!r}")
        out.append((p[0], _decode_pred(p[1]), p[2]))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="pipeline table root")
    ap.add_argument("--query", required=True, help="JSON query spec file")
    ap.add_argument(
        "--write",
        default=None,
        metavar="NAME",
        help="materialize the result as <out>/query_NAME",
    )
    ap.add_argument(
        "--table",
        default="triples",
        help="table under --out to query (default: triples; e.g. "
        "query_NAME to query a previously --write'n result, so "
        "CONSTRUCT-derived graphs compose with further queries)",
    )
    ap.add_argument("--show", type=int, default=10)
    ap.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan before running (to "
        "stderr; NOTE spark-submit's PythonRunner merges the python "
        "process's stderr into stdout, so there the plan precedes the "
        "JSON — the result JSON is always the LAST stdout line)",
    )
    args = ap.parse_args()

    with open(args.query) as fh:
        spec = json.load(fh)
    unknown = set(spec) - {
        "patterns", "union", "optional", "exists", "not_exists",
        "minus", "values", "filters", "post_filters", "bind", "select",
        "distinct", "construct", "describe", "group_by", "aggs",
        "having", "order_by", "limit", "offset", "ask", "stats",
    }
    if unknown:
        raise SystemExit(f"unknown query spec keys: {sorted(unknown)}")
    if "describe" in spec and len(spec) > 1 + ("order_by" in spec) + (
        "limit" in spec
    ) + ("offset" in spec):
        raise SystemExit(
            "'describe' is standalone: a resource id (or list) whose "
            "depth-1 triple neighborhood IS the result; it composes "
            "only with order_by/limit/offset"
        )
    if "construct" in spec and (
        spec.get("select") or spec.get("distinct")
    ):
        raise SystemExit(
            "'construct' replaces select/distinct (its output is the "
            "distinct derived triple set)"
        )
    if spec.get("ask") and any(
        k in spec
        for k in (
            "construct", "group_by", "aggs", "having", "select",
            "distinct", "order_by", "limit", "offset",
        )
    ):
        raise SystemExit(
            "'ask' is a boolean existence test: it composes with "
            "patterns/optional/exists/not_exists/filters/post_filters/"
            "bind only"
        )
    has_agg = any(k in spec for k in ("group_by", "aggs", "having"))
    if has_agg and not spec.get("aggs"):
        raise SystemExit("'group_by'/'having' require 'aggs'")
    if has_agg and any(
        k in spec for k in ("construct", "select", "distinct")
    ):
        raise SystemExit(
            "'aggs' replaces construct/select/distinct (its output "
            "columns are the group_by keys plus the agg aliases)"
        )

    spark = get_spark("kg_query")
    triples = IceLite(f"{args.out}/{args.table}").load(spark)
    if triples is None:
        raise SystemExit(
            f"no {args.table} table under --out: run jobs/extract.py "
            "and jobs/link_materialize.py first (or --write the "
            "derived table this run should query)"
        )
    patterns = _decode_patterns(spec.get("patterns", []), "required")
    union = [
        _decode_patterns(g, "union") for g in spec.get("union", [])
    ] or None
    # "stats": true switches the join order to estimated-cardinality
    # order. Source: the table MANIFEST when it is pred-partitioned
    # (free — a metadata read, no job), else one groupBy(pred).count()
    # pass over the table.
    stats = None
    if spec.get("stats"):
        stats = predicate_stats_from_manifest(
            IceLite(f"{args.out}/{args.table}")
        ) or predicate_stats(triples)
    optional = [
        _decode_patterns(g, "optional") for g in spec.get("optional", [])
    ] or None
    exists = [
        _decode_patterns(g, "exists") for g in spec.get("exists", [])
    ] or None
    not_exists = [
        _decode_patterns(g, "not_exists")
        for g in spec.get("not_exists", [])
    ] or None
    minus = [
        _decode_patterns(g, "minus") for g in spec.get("minus", [])
    ] or None
    values = spec.get("values") or None
    if values is not None and not (
        isinstance(values, list)
        and all(isinstance(r, dict) for r in values)
    ):
        raise SystemExit(
            "'values' must be a list of {var: value} binding rows"
        )
    if "describe" in spec:
        result = describe(triples, spec["describe"])
    elif "construct" in spec:
        template = [
            (p[0], p[1], p[2])
            for p in spec["construct"]
            if isinstance(p, list) and len(p) == 3
        ]
        if len(template) != len(spec["construct"]):
            raise SystemExit("construct template rows must be [s, p, o]")
        result = construct(
            triples,
            patterns,
            template,
            union_patterns=union,
            optional_patterns=optional,
            exists_patterns=exists,
            not_exists_patterns=not_exists,
            minus_patterns=minus,
            values=values,
            filters=spec.get("filters") or None,
            post_filters=spec.get("post_filters") or None,
            stats=stats,
        )
    elif has_agg:
        result = bgp_aggregate(
            triples,
            patterns=patterns,
            group_by=spec.get("group_by") or [],
            aggs=spec["aggs"],
            union_patterns=union,
            optional_patterns=optional,
            exists_patterns=exists,
            not_exists_patterns=not_exists,
            minus_patterns=minus,
            values=values,
            filters=spec.get("filters") or None,
            post_filters=spec.get("post_filters") or None,
            having=spec.get("having") or None,
            stats=stats,
        )
    else:
        result = bgp_query(
            triples,
            patterns=patterns,
            union_patterns=union,
            optional_patterns=optional,
            exists_patterns=exists,
            not_exists_patterns=not_exists,
            minus_patterns=minus,
            values=values,
            filters=spec.get("filters") or None,
            post_filters=spec.get("post_filters") or None,
            bind=spec.get("bind") or None,
            select=spec.get("select") or None,
            distinct=bool(spec.get("distinct", False)),
            stats=stats,
        )
    if spec.get("ask"):
        # SPARQL ASK: does ANY binding exist? limit(1) stops the scan
        # at the first produced row (CollectLimit — no full evaluation).
        found = bool(result.limit(1).take(1))
        print(json.dumps({"ask": found}))
        return
    if spec.get("order_by"):
        # explicit ORDER BY; with "limit" Spark plans
        # TakeOrderedAndProject (top-k per partition + driver merge),
        # never a full sort. Ties are broken arbitrarily — include a
        # tie-breaker column for fully deterministic top-k.
        result = result.orderBy(*[_order_col(e) for e in spec["order_by"]])
    if spec.get("offset") is not None:
        # DataFrame.offset (Spark 3.4+): skip N rows after the sort —
        # with order_by+limit this is the paged top-k idiom
        result = result.offset(int(spec["offset"]))
    if spec.get("limit") is not None:
        result = result.limit(int(spec["limit"]))
    if args.explain:
        print(result._sc._jvm.PythonSQLUtils.explainString(
            result._jdf.queryExecution(), "formatted"
        ), file=sys.stderr)
    cols = result.columns
    if args.write:
        tab = IceLite(f"{args.out}/query_{args.write}")
        snap = tab.overwrite(result)
        n = tab.manifest(snap)["total_rows"]
        # sample from the WRITTEN table — re-running the join tree for
        # the sample would recompute the whole query.
        result = tab.load(spark)
    else:
        n = result.count()
    # a spec whose patterns are all fully bound (existence gates) and
    # no 'ask' yields a ZERO-COLUMN result: orderBy(*[]) throws, and
    # there is nothing to sample — report the row count only.
    sample = (
        [list(r) for r in result.orderBy(*cols).limit(args.show).collect()]
        if cols
        else []
    )  # bounded: --show rows
    print(
        json.dumps(
            {
                "rows": n,
                "columns": cols,
                "sample": sample,
                **({"written": f"query_{args.write}"} if args.write else {}),
            }
        )
    )


if __name__ == "__main__":
    main()
