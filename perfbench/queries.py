"""kg_query's seeded query sequence, its executor and a pandas reference.

Each query is a ``jobs/kg_query.py`` spec, except that ``order_by`` holds
(column, "asc"|"desc") pairs applied with ``Column.asc``/``desc``: the
job's string form ``"n_staff DESC"`` goes through ``F.expr``, which does
not make a sort direction of ``DESC``, so the job's top-k sorts ascending. ``execute``
does what that job does minus the JVM start: ``IceLite(triples).load``, the kgquery call, then
one action (``collect``; for CONSTRUCT, ``IceLite.overwrite`` of the
derived graph). ``expected`` evaluates the same spec with pandas over the
triples table read by pyarrow, so every result is checked against an
independent evaluation.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SHAPES = (
    "point", "chain_optional", "path_1_3", "closure", "topk",
    "exists", "union_stats", "describe", "construct",
)
CONSTRUCT_TABLE = "query_based_in"


def sequence(triples: pd.DataFrame, seed: int) -> list[dict]:
    """One query of each shape, parameters drawn from the KG by ``seed``,
    in a seeded order."""
    rng = np.random.default_rng(seed)
    subjects = sorted(triples["subj"].unique())
    nodes = sorted(set(subjects) | set(triples["obj"].unique()))
    loc_targets = sorted(triples.loc[triples["pred"] == "Located_In", "obj"].unique())
    orgs = sorted(triples.loc[triples["pred"] == "OrgBased_In", "subj"].unique())

    def pick(pool):
        return str(pool[int(rng.integers(0, len(pool)))])

    out = []
    for shape in SHAPES:
        if shape == "point":
            spec = {"patterns": [[pick(subjects), "?p", "?o"]]}
        elif shape == "chain_optional":
            spec = {
                "patterns": [["?p", "Work_For", "?org"], ["?org", "OrgBased_In", "?loc"]],
                "optional": [[["?p", "Live_In", "?home"]]],
                "filters": [f"org <> '{pick(orgs)}'"],
            }
        elif shape == "path_1_3":
            spec = {
                "patterns": [["?a", {"path": "Located_In", "min": 1, "max": 3}, "?b"]],
                "distinct": True,
            }
        elif shape == "closure":
            spec = {
                "patterns": [["?a", {"path": "Located_In", "min": 0, "max": "*"},
                              pick(loc_targets)]],
                "distinct": True,
            }
        elif shape == "topk":
            spec = {
                "patterns": [["?p", "Work_For", "?org"]],
                "group_by": ["org"],
                "aggs": {"n_staff": "count(DISTINCT p)"},
                "having": [f"n_staff >= {int(rng.integers(1, 4))}"],
                "order_by": [["n_staff", "desc"], ["org", "asc"]],
                "limit": 5,
            }
        elif shape == "exists":
            spec = {
                "patterns": [["?p", "Work_For", "?org"]],
                "exists": [[["?p", "Live_In", "?w"]]],
                "not_exists": [[["?p", "Kill", "?v"]]],
            }
        elif shape == "union_stats":
            spec = {
                "union": [[["?p", "Work_For", "?org"]], [["?p", "Live_In", "?home"]]],
                "stats": True,
                "distinct": True,
            }
        elif shape == "describe":
            spec = {"describe": pick(nodes)}
        else:
            spec = {
                "patterns": [["?p", "Work_For", "?org"], ["?org", "OrgBased_In", "?loc"]],
                "filters": [f"org <> '{pick(orgs)}'"],
                "construct": [["?p", "Based_In", "?loc"]],
            }
        out.append({"shape": shape, "spec": spec})
    return [out[int(i)] for i in rng.permutation(len(out))]


# ---------------------------------------------------------------- execution


def compile_query(triples, spec: dict, table):
    """The kgquery call ``jobs/kg_query.py`` makes for ``spec``."""
    from pyspark.sql import functions as F

    from antnre_spark import kgquery
    from jobs.kg_query import _decode_patterns

    if "describe" in spec:
        return kgquery.describe(triples, spec["describe"])
    patterns = _decode_patterns(spec.get("patterns", []), "required")
    groups = {
        key: [_decode_patterns(g, key) for g in spec[key]] or None
        for key in ("union", "optional", "exists", "not_exists")
        if key in spec
    }
    common = dict(
        union_patterns=groups.get("union"),
        optional_patterns=groups.get("optional"),
        exists_patterns=groups.get("exists"),
        not_exists_patterns=groups.get("not_exists"),
        filters=spec.get("filters"),
    )
    if spec.get("stats"):
        common["stats"] = kgquery.predicate_stats_from_manifest(table) or (
            kgquery.predicate_stats(triples)
        )
    if "construct" in spec:
        template = [tuple(p) for p in spec["construct"]]
        return kgquery.construct(triples, patterns, template, **common)
    if "aggs" in spec:
        result = kgquery.bgp_aggregate(
            triples, patterns=patterns, group_by=spec["group_by"],
            aggs=spec["aggs"], having=spec.get("having"), **common,
        )
    else:
        result = kgquery.bgp_query(
            triples, patterns=patterns, distinct=bool(spec.get("distinct")), **common
        )
    if spec.get("order_by"):
        result = result.orderBy(*[getattr(F.col(c), how)() for c, how in spec["order_by"]])
    if spec.get("limit") is not None:
        result = result.limit(int(spec["limit"]))
    return result


def execute(spark, kg_root: str, spec: dict, action_scope):
    """One op. Returns collected rows, or for CONSTRUCT the snapshot id of
    the written table. ``action_scope`` wraps the action (a tracing span
    or a null context)."""
    from antnre_spark.icelite import IceLite

    table = IceLite(os.path.join(kg_root, "triples"))
    triples = table.load(spark)
    result = compile_query(triples, spec, table)
    with action_scope:
        if "construct" in spec:
            return IceLite(os.path.join(kg_root, CONSTRUCT_TABLE)).overwrite(result)
        return result.collect()


def rows_returned(result, spec: dict, kg_root: str) -> int:
    if "construct" in spec:
        from antnre_spark.icelite import IceLite

        return IceLite(os.path.join(kg_root, CONSTRUCT_TABLE)).manifest(result)["total_rows"]
    return len(result)


def result_rows(result, spec: dict, kg_root: str) -> list[tuple]:
    """Rows of an op's result as tuples over ``digest_columns`` (read back
    from the written snapshot for CONSTRUCT)."""
    if "construct" in spec:
        from perfbench.verify import read_icelite

        df = read_icelite(os.path.join(kg_root, CONSTRUCT_TABLE), snapshot=result)
        cols = digest_columns(spec)
        return [] if df is None else list(df[cols].itertuples(index=False, name=None))
    cols = digest_columns(spec)
    return [tuple(r.asDict()[c] for c in cols) for r in result]


def digest_columns(spec: dict) -> list[str]:
    if "describe" in spec or "construct" in spec:
        return ["subj", "pred", "obj"] + (["conf", "n_evidence"] if "describe" in spec else [])
    if "aggs" in spec:
        return sorted([*spec["group_by"], *spec["aggs"]])
    names = set()
    groups = [spec.get("patterns", [])]
    groups += spec.get("union", []) + spec.get("optional", [])
    for group in groups:
        for s, _p, o in group:
            names |= {t[1:] for t in (s, o) if isinstance(t, str) and t.startswith("?")}
    return sorted(names)


# ---------------------------------------------------------------- reference


def _edges(t: pd.DataFrame, pred: str, a: str, b: str) -> pd.DataFrame:
    e = t.loc[t["pred"] == pred, ["subj", "obj"]]
    return e.rename(columns={"subj": a, "obj": b}).reset_index(drop=True)


def _reach(t: pd.DataFrame, pred: str, lo: int, hi: int) -> set[tuple]:
    step = _edges(t, pred, "a", "b")
    pairs, frontier = set(), step
    for k in range(1, hi + 1):
        if k >= lo:
            pairs |= set(frontier.itertuples(index=False, name=None))
        frontier = frontier.merge(step.rename(columns={"a": "b", "b": "c"}), on="b")
        frontier = frontier[["a", "c"]].rename(columns={"c": "b"}).drop_duplicates()
    return pairs


def expected(t: pd.DataFrame, spec: dict) -> list[tuple]:
    """The result of ``spec`` over triples ``t`` (columns subj, pred, obj,
    conf, n_evidence) as tuples over ``digest_columns(spec)``."""
    cols = digest_columns(spec)
    if "describe" in spec:
        e = spec["describe"]
        df = t[(t["subj"] == e) | (t["obj"] == e)]
    elif "union" in spec:
        w = _edges(t, "Work_For", "p", "org")
        h = _edges(t, "Live_In", "p", "home")
        df = pd.concat([w, h], ignore_index=True).drop_duplicates()
    elif "aggs" in spec:
        w = _edges(t, "Work_For", "p", "org")
        g = w.groupby("org")["p"].nunique().rename("n_staff").reset_index()
        floor = int(spec["having"][0].split(">=")[1])
        g = g[g["n_staff"] >= floor].sort_values(["n_staff", "org"], ascending=[False, True])
        df = g.head(int(spec["limit"]))
    elif "exists" in spec:
        w = _edges(t, "Work_For", "p", "org")
        live = set(t.loc[t["pred"] == "Live_In", "subj"])
        kill = set(t.loc[t["pred"] == "Kill", "subj"])
        df = w[w["p"].isin(live) & ~w["p"].isin(kill)]
    elif spec["patterns"][0][1] == "Work_For":  # chain_optional / construct
        excluded = spec["filters"][0].split("'")[1]
        df = _edges(t, "Work_For", "p", "org").merge(
            _edges(t, "OrgBased_In", "org", "loc"), on="org"
        )
        df = df[df["org"] != excluded]
        if "construct" in spec:
            df = df[["p", "loc"]].drop_duplicates()
            df = pd.DataFrame({"subj": df["p"], "pred": "Based_In", "obj": df["loc"]})
        else:
            df = df.merge(_edges(t, "Live_In", "p", "home"), on="p", how="left")
    elif isinstance(spec["patterns"][0][1], dict):  # property paths
        path = spec["patterns"][0][1]
        if path["max"] == "*":
            target = spec["patterns"][0][2]
            step = _edges(t, path["path"], "a", "b")
            found, frontier = {target}, {target}
            while frontier:
                frontier = set(step.loc[step["b"].isin(frontier), "a"]) - found
                found |= frontier
            df = pd.DataFrame({"a": sorted(found)})
        else:
            df = pd.DataFrame(
                sorted(_reach(t, path["path"], path["min"], path["max"])), columns=["a", "b"]
            )
    else:  # point lookup
        s = spec["patterns"][0][0]
        df = t.loc[t["subj"] == s, ["pred", "obj"]].rename(columns={"pred": "p", "obj": "o"})
    df = df.astype(object).where(pd.notna(df), None)
    return list(df[cols].itertuples(index=False, name=None))
