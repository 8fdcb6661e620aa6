"""G-operators: linking semantics on synthetic graphs + fixture-level
alias-merge / decoy-separation checks (SURVEY.md §2.G, FIXTURES.md F3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from antnre_spark import link


@pytest.fixture(scope="module")
def fixture_entities(spark, pipeline_out):
    cfg = pipeline_out["cfg"]
    return cfg.table("entities").load(spark).collect()


class TestConnectedComponents:
    """Each case runs BOTH CC strategies: threshold large -> driver-local
    union-find; threshold 0 -> distributed large-star/small-star. Labels
    must be identical."""

    @pytest.mark.parametrize("threshold", [link.LOCAL_CC_MAX_EDGES, 0])
    def test_chain_collapses_to_min_label(self, spark, threshold):
        """A length-6 chain needs several star rounds — the loop must run
        to fixpoint, not a fixed small count."""
        names = ["a", "b", "c", "d", "e", "f"]
        edges = spark.createDataFrame(
            [("T", names[i], names[i + 1]) for i in range(5)],
            ["ent_type", "norm_a", "norm_b"],
        )
        nodes = spark.createDataFrame(
            [("T", n) for n in names] + [("T", "zz_isolated")],
            ["ent_type", "norm"],
        )
        got = {
            r["norm"]: r["component"]
            for r in link.connected_components(edges, nodes, local_threshold=threshold).collect()
        }
        assert all(got[n] == "a" for n in names)
        assert got["zz_isolated"] == "zz_isolated"

    @pytest.mark.parametrize("threshold", [link.LOCAL_CC_MAX_EDGES, 0])
    def test_two_components_stay_separate(self, spark, threshold):
        edges = spark.createDataFrame(
            [("T", "a", "b"), ("T", "x", "y")], ["ent_type", "norm_a", "norm_b"]
        )
        nodes = spark.createDataFrame(
            [("T", n) for n in ["a", "b", "x", "y"]], ["ent_type", "norm"]
        )
        got = {
            r["norm"]: r["component"]
            for r in link.connected_components(edges, nodes, local_threshold=threshold).collect()
        }
        assert got == {"a": "a", "b": "a", "x": "x", "y": "x"}

    @pytest.mark.parametrize("threshold", [link.LOCAL_CC_MAX_EDGES, 0])
    def test_type_partitioned(self, spark, threshold):
        """Same norm under different ent_types must NOT merge."""
        edges = spark.createDataFrame(
            [("Loc", "springfield", "sprngfield")],
            ["ent_type", "norm_a", "norm_b"],
        )
        nodes = spark.createDataFrame(
            [("Loc", "springfield"), ("Loc", "sprngfield"), ("Peop", "springfield")],
            ["ent_type", "norm"],
        )
        got = {
            (r["ent_type"], r["norm"]): r["component"]
            for r in link.connected_components(edges, nodes, local_threshold=threshold).collect()
        }
        assert got[("Loc", "sprngfield")] == "springfield"
        assert got[("Peop", "springfield")] == "springfield"  # own component


class TestStarComponents:
    """Large-star/small-star (diameter-independent CC), the distributed
    path above the local threshold."""

    def test_wide_chain_converges_forced(self, spark):
        """A planted 10^4-node chain: min-label propagation would need
        ~10^4 hops; star converges in O(log^2 n) rounds and must label
        every node with the chain minimum."""
        n = 10_000
        names = [f"n{i:05d}" for i in range(n)]
        edges = spark.createDataFrame(
            [("T", names[i], names[i + 1]) for i in range(n - 1)],
            ["ent_type", "norm_a", "norm_b"],
        )
        nodes = spark.createDataFrame(
            [("T", x) for x in names], ["ent_type", "norm"]
        )
        got = link.connected_components(
            edges, nodes, local_threshold=0
        ).collect()
        assert len(got) == n
        assert {r["component"] for r in got} == {names[0]}

    def test_round_budget_exhausted_raises(self, spark):
        """An 8-node chain cannot reach a fixpoint in one round: star
        must fail loudly rather than return labels that split it."""
        names = [f"n{i}" for i in range(8)]
        sym = spark.createDataFrame(
            [("T", names[i], names[i + 1]) for i in range(7)]
            + [("T", names[i + 1], names[i]) for i in range(7)],
            ["ent_type", "src", "dst"],
        )
        with pytest.raises(RuntimeError, match="max_rounds=1"):
            link._star_components(sym, max_rounds=1)

    def test_star_matches_local_union_find_on_random_graph(self, spark):
        """Star labels == exact driver-local union-find labels on a seeded
        random graph (multiple components, cross-type isolation)."""
        import numpy as np

        rng = np.random.default_rng(7)
        n = 400
        names = [f"r{i:04d}" for i in range(n)]
        pairs = {
            (names[int(a)], names[int(b)])
            for a, b in rng.integers(0, n, size=(500, 2))
            if a != b
        }
        edges = spark.createDataFrame(
            [("T", a, b) for a, b in sorted(pairs)],
            ["ent_type", "norm_a", "norm_b"],
        )
        nodes = spark.createDataFrame(
            [("T", x) for x in names], ["ent_type", "norm"]
        )
        star = {
            (r["ent_type"], r["norm"]): r["component"]
            for r in link.connected_components(
                edges, nodes, local_threshold=0
            ).collect()
        }
        exact = {
            (r["ent_type"], r["norm"]): r["component"]
            for r in link.connected_components(
                edges, nodes, local_threshold=10**9
            ).collect()
        }
        assert star == exact


class TestCandidatePairs:
    def test_bucket_cap_drops_degenerate_buckets(self, spark):
        """> max_bucket identical-signature surfaces: bucket dropped, no
        quadratic pair explosion, no crash."""
        surfaces = spark.createDataFrame(
            [("T", f"same same {i:03d}", 1, f"x{i}") for i in range(10)],
            ["ent_type", "norm", "n_mentions", "top_surface"],
        )
        pairs_capped = link.candidate_pairs(surfaces, max_bucket=1)
        assert pairs_capped.count() == 0

    def test_verified_pair_found(self, spark):
        surfaces = spark.createDataFrame(
            [
                ("Loc", "springfield", 5, "Springfield"),
                ("Loc", "sprinfield", 1, "Sprinfield"),
                ("Loc", "gotham", 3, "Gotham"),
            ],
            ["ent_type", "norm", "n_mentions", "top_surface"],
        )
        got = {
            (r["norm_a"], r["norm_b"])
            for r in link.candidate_pairs(surfaces).collect()
        }
        assert ("sprinfield", "springfield") in got
        assert all("gotham" not in p for pair in got for p in pair)


class TestFixtureLinkQuality:
    def test_decoys_not_merged(self, fixture_entities):
        for r in fixture_entities:
            aliases = list(r["aliases"])
            has_falls = any(a.endswith(" falls") for a in aliases)
            has_base = any(not a.endswith(" falls") for a in aliases)
            assert not (has_falls and has_base), (
                f"decoy merged into {r['entity_id']}: {aliases}"
            )

    def test_typo_aliases_merged(self, fixture_entities):
        merged = [r for r in fixture_entities if len(r["aliases"]) > 1]
        assert len(merged) >= 20  # fixture plants ~30 typo/variant clusters

    def test_canonical_is_most_frequent_surface(self, spark, pipeline_out):
        cfg = pipeline_out["cfg"]
        ents = cfg.table("entities").load(spark)
        ments = cfg.table("mentions").load(spark)
        # the hub org's canonical must be its dominant raw surface
        hub = (
            ments.filter(F.col("ent_type") == "Org")
            .groupBy("surface")
            .count()
            .orderBy(F.col("count").desc())
            .first()
        )
        canon = {r["canonical"] for r in ents.collect()}
        assert hub["surface"] in canon


class TestBulkMinhash:
    def test_bulk_signatures_match_single(self):
        """minhash_signatures_bulk (vectorized reduceat path, incl. chunk
        boundaries via a tiny gram_budget) must be bit-identical to the
        per-doc minhash_signature the oracle shares."""
        import numpy as np

        from antnre_spark import hashing

        rng = np.random.default_rng(7)
        arrays = [
            np.sort(
                rng.integers(0, 2**31, size=int(rng.integers(1, 50)))
            ).astype(np.int64)
            for _ in range(100)
        ]
        bulk = hashing.minhash_signatures_bulk(arrays, gram_budget=137)
        for a, b in zip(arrays, bulk):
            assert (hashing.minhash_signature(a) == b).all()


class TestHybridLinking:
    def test_local_and_distributed_surface_maps_identical(
        self, spark, pipeline_out
    ):
        """The driver-local linking fast path must produce EXACTLY the
        distributed path's surface map (same entity ids, canonicals,
        counts) on the fixture corpus — typos, decoys, hubs and all."""
        cfg = pipeline_out["cfg"]
        mentions = cfg.table("mentions").load(spark)
        local_sm, _ = link.link_entities(mentions, local_threshold=10**6)
        dist_sm, _ = link.link_entities(mentions, local_threshold=0)
        a = {tuple(r) for r in local_sm.collect()}
        b = {tuple(r) for r in dist_sm.collect()}
        assert a == b and a

    def test_star_matches_union_find_on_fixture_alias_graph(
        self, spark, pipeline_out
    ):
        """Distributed star CC over the fixture's REAL alias graph (LSH
        candidate pairs over its distinct surfaces) labels every surface
        exactly as the driver-local union-find does."""
        cfg = pipeline_out["cfg"]
        surfaces = link.distinct_surfaces(cfg.table("mentions").load(spark))
        edges = link.candidate_pairs(surfaces)
        assert edges.count() > 0
        nodes = surfaces.select("ent_type", "norm")

        def labels(threshold):
            return {
                (r["ent_type"], r["norm"]): r["component"]
                for r in link.connected_components(
                    edges, nodes, local_threshold=threshold
                ).collect()
            }

        star, exact = labels(0), labels(10**9)
        assert star == exact
        assert any(norm != c for (_t, norm), c in exact.items())

    def test_link_entities_releases_caches(self, spark, pipeline_out):
        """Cache-ownership contract (link_entities docstring): surfaces is
        unpersisted inside; after the caller consumes the outputs and
        unpersists surface_map (as pipeline.link_job does), repeated
        linking in one long-lived session accumulates NO persistent RDDs."""
        cfg = pipeline_out["cfg"]
        mentions = cfg.table("mentions").load(spark)

        def run_once():
            sm, ents = link.link_entities(mentions)
            ents.count()
            sm.unpersist(blocking=True)

        run_once()
        baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
        run_once()
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after <= baseline


class TestReliableCheckpoint:
    """With a reliable checkpoint dir configured, distributed CC must
    survive total block loss (the executor-failure model:
    localCheckpoint blocks live only in executor memory, so unpersisting
    every persistent RDD and re-running the action simulates losing the
    executors that held them — reliable checkpoints recompute from disk,
    local ones cannot)."""

    # auto: the default local_threshold routes this small graph to the
    # driver-local union-find; star: threshold 0 forces the distributed
    # large-star/small-star rounds. Both must honour the reliable dir.
    @pytest.mark.parametrize("route", ["auto", "star"])
    def test_cc_survives_block_loss_with_reliable_dir(
        self, spark, tmp_path, route
    ):
        sc = spark.sparkContext
        names = [f"n{i:02d}" for i in range(8)]
        edges = spark.createDataFrame(
            [("T", names[i], names[i + 1]) for i in range(7)],
            ["ent_type", "norm_a", "norm_b"],
        )
        nodes = spark.createDataFrame(
            [("T", n) for n in names], ["ent_type", "norm"]
        )
        ckdir = str(tmp_path / f"ck_{route}")
        threshold = link.LOCAL_CC_MAX_EDGES if route == "auto" else 0
        # the session checkpoint dir is the only switch: a deployment
        # sets it once at job setup and every lineage cut honours it
        sc.setCheckpointDir(ckdir)
        try:
            labels = link.connected_components(
                edges, nodes, local_threshold=threshold
            )
            got = {r["norm"]: r["component"] for r in labels.collect()}
            assert got == {n: "n00" for n in names}
            # evidence the reliable path actually ran: rdd files on disk
            import pathlib

            ckfiles = [
                p for p in pathlib.Path(ckdir).rglob("*") if p.is_file()
            ]
            assert ckfiles, "no reliable checkpoint files were written"
            # kill the lineage: drop EVERY persisted block, then re-run
            # the action. localCheckpoint-only plans die here; reliable
            # checkpoints re-read from the checkpoint store.
            for jrdd in sc._jsc.getPersistentRDDs().values():
                jrdd.unpersist()
            spark.catalog.clearCache()
            again = {r["norm"]: r["component"] for r in labels.collect()}
            assert again == got
        finally:
            # unset for the rest of the session (Option(null) -> None on
            # the scala side), so later tests keep fast localCheckpoints
            sc.setCheckpointDir(None)
            assert sc.getCheckpointDir() is None
