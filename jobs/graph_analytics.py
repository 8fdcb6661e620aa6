"""kg_graph job — graph analytics over a materialized KG run
(SURVEY.md §2.H H6): PageRank, k-core membership, and optional n-hop
neighborhoods of the highest-ranked entities, written back as IceLite
tables next to the pipeline's own.

spark-submit --py-files kg.zip jobs/graph_analytics.py --out <table root> \\
    [--iterations 10] [--damping 0.85] [--k-core 2] [--hops 0] [--top 20]

Reads the run's ``triples`` table (so it composes with jobs/extract.py +
jobs/link_materialize.py exactly like jobs/evaluate.py does), collapses
it to a distinct entity edge list, and writes:

  <out>/graph_pagerank   (vertex, rank)          — full vertex set
  <out>/graph_kcore      (v,)                    — k-core members
  <out>/graph_scc        (vertex, component)     — only with --scc
  <out>/graph_sssp       (vertex, dist)          — only with --sssp
  <out>/graph_neighbors  (seed, vertex, hop)     — only with --hops > 0,
                                                   seeds = --top ranked

Prints one JSON line with the table row counts and the top entities by
rank (bounded: --top rows to the driver, nothing else).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from antnre_spark import graph  # noqa: E402
from antnre_spark.icelite import IceLite  # noqa: E402
from antnre_spark.schema import local_frame  # noqa: E402
from antnre_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--iterations", type=int, default=10)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--k-core", type=int, default=2, dest="k_core")
    ap.add_argument(
        "--hops",
        type=int,
        default=0,
        help="if > 0, also materialize the --hops-hop out-neighborhood "
        "of each of the --top highest-ranked entities",
    )
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument(
        "--communities",
        type=int,
        default=0,
        metavar="ITERS",
        help="if > 0, run label propagation for ITERS rounds and write "
        "graph_communities (vertex, label)",
    )
    ap.add_argument(
        "--triangles",
        action="store_true",
        help="also write per-vertex triangle counts (graph_triangles)",
    )
    ap.add_argument(
        "--scc",
        action="store_true",
        help="also write DIRECTED strongly connected components "
        "(graph_scc — cycle detection: taxonomy loops, mutual links)",
    )
    ap.add_argument(
        "--components",
        action="store_true",
        help="also write undirected connected components (graph_components)",
    )
    ap.add_argument(
        "--weighted",
        action="store_true",
        help="weight PageRank edges by summed n_evidence instead of "
        "collapsing parallel edges to weight 1",
    )
    ap.add_argument(
        "--seed",
        action="append",
        default=[],
        metavar="ENTITY",
        help="entity id(s) for PERSONALIZED PageRank (teleport to the "
        "seed set); repeatable; writes graph_ppr instead of changing "
        "graph_pagerank",
    )
    ap.add_argument(
        "--sssp",
        action="append",
        default=[],
        metavar="ENTITY",
        help="source entity id(s) for weighted single-source shortest "
        "paths (r7: graph.shortest_paths — distance = 1/n_evidence per "
        "edge under --weighted, unit hops otherwise); repeatable "
        "(multi-source); writes graph_sssp (vertex, dist)",
    )
    args = ap.parse_args()

    spark = get_spark("kg_graph")
    triples = IceLite(f"{args.out}/triples").load(spark)
    if triples is None:
        raise SystemExit(
            "no triples table under --out: run jobs/extract.py and "
            "jobs/link_materialize.py first"
        )
    weight_col = None
    if args.weighted:
        edges = graph.kg_edges(triples, evidence_col="n_evidence")
        weight_col = "weight"
    else:
        edges = graph.kg_edges(triples)

    def _append_rows(table: IceLite, df) -> int:
        """Full-table overwrite (re-running analytics REPLACES the
        previous run's derived rows — append would stack them under the
        reader) returning the written row count from the manifest — no
        second action over the DataFrame."""
        snap = table.overwrite(df)
        return table.manifest(snap)["total_rows"]

    ranks = graph.pagerank(
        edges,
        iterations=args.iterations,
        damping=args.damping,
        weight_col=weight_col,
    )
    n_vertices = _append_rows(IceLite(f"{args.out}/graph_pagerank"), ranks)
    core = graph.k_core(edges, args.k_core)
    n_core = _append_rows(IceLite(f"{args.out}/graph_kcore"), core)

    top = [
        (r["vertex"], r["rank"])
        for r in ranks.orderBy(F.desc("rank"), "vertex")
        .limit(args.top)
        .collect()  # bounded: --top rows
    ]
    report = {
        "vertices": n_vertices,
        f"kcore_{args.k_core}_members": n_core,
        "top_by_rank": [
            {"entity": v, "rank": round(rk, 6)} for v, rk in top
        ],
    }
    if args.hops > 0:
        # UNION neighborhood: every entity within --hops out-hops of ANY
        # top-ranked seed, at its minimum hop distance
        seeds = local_frame(spark, [(v,) for v, _ in top], "v string")
        hoods = (
            graph.n_hop(edges, seeds, args.hops)
            .filter(F.col("hop") > 0)
            .withColumn("seed_set", F.lit(",".join(v for v, _ in top)))
        )
        report["neighborhood_rows"] = _append_rows(
            IceLite(f"{args.out}/graph_neighbors"), hoods
        )
    if args.communities > 0:
        comm = graph.label_propagation(edges, iterations=args.communities)
        report["community_rows"] = _append_rows(
            IceLite(f"{args.out}/graph_communities"), comm
        )
    if args.triangles:
        tri = graph.triangle_count(edges)
        report["triangle_vertex_rows"] = _append_rows(
            IceLite(f"{args.out}/graph_triangles"), tri
        )
    if args.components:
        comp = graph.connected_components(edges)
        report["component_rows"] = _append_rows(
            IceLite(f"{args.out}/graph_components"), comp
        )
    if args.scc:
        scc = graph.strongly_connected_components(edges)
        report["scc_rows"] = _append_rows(
            IceLite(f"{args.out}/graph_scc"), scc
        )
    if args.seed:
        ppr_seeds = local_frame(spark, [(s,) for s in args.seed], "v string")
        ppr = graph.pagerank(
            edges,
            iterations=args.iterations,
            damping=args.damping,
            weight_col=weight_col,
            seeds=ppr_seeds,
        ).filter(F.col("rank") > 0.0)
        report["ppr_rows"] = _append_rows(
            IceLite(f"{args.out}/graph_ppr"), ppr
        )
        report["ppr_seeds"] = sorted(args.seed)
    if args.sssp:
        sssp_seeds = local_frame(spark, [(s,) for s in args.sssp], "v string")
        if weight_col is not None:
            # evidence counts are AFFINITY (more evidence = closer):
            # invert into a positive distance so strong edges are short
            sp_edges = edges.withColumn(
                "cost", F.lit(1.0) / F.col(weight_col)
            )
            sp = graph.shortest_paths(
                sp_edges, sssp_seeds, weight_col="cost"
            )
        else:
            sp = graph.shortest_paths(edges, sssp_seeds)
        report["sssp_rows"] = _append_rows(
            IceLite(f"{args.out}/graph_sssp"), sp
        )
        report["sssp_sources"] = sorted(args.sssp)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
