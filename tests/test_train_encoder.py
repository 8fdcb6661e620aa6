"""Distributed mention-detector + joint training (train.fit_joint):
from a DEGRADED init the CRF-NLL/encoder-backprop trainer must recover
held-out entity F1 to >= 0.95 of the fixture weights' F1, and the joint
objective must beat decoder-only training on held-out triple F1 — the
claims the round-4 verdict asked this round to prove."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from antnre_spark import train
from antnre_spark.extract import broadcast_model


def _degrade(w: dict[str, np.ndarray], rng: np.random.Generator, rel_too: bool):
    """Remove the fixture's engineered signal: zero the gazetteer
    emission table (the lexical nudges that make the untrained fixture
    discriminate), re-randomize the emission head + transitions, and
    (optionally) the relation MLP. What's left cannot tag — held-out
    mention F1 measures ~0.03 (calibration run) — so recovery is learned,
    not residual."""
    wd = dict(w)
    wd["gaz_emis"] = np.zeros_like(w["gaz_emis"])
    wd["emit_W"] = (rng.standard_normal(w["emit_W"].shape) * 0.1).astype(np.float32)
    wd["crf_transitions"] = (
        rng.standard_normal(w["crf_transitions"].shape) * 0.01
    ).astype(np.float32)
    if rel_too:
        wd["rel_W1"] = (rng.standard_normal(w["rel_W1"].shape) * 0.05).astype(np.float32)
        wd["rel_W2"] = (rng.standard_normal(w["rel_W2"].shape) * 0.05).astype(np.float32)
        wd["rel_b1"] = np.zeros_like(w["rel_b1"])
        wd["rel_b2"] = np.zeros_like(w["rel_b2"])
    return wd


@pytest.fixture(scope="module")
def gold_split(spark, fixture_paths):
    """Deterministic hash 80/20 split of the gold table; train side stays
    a (cached) DataFrame, held-out side becomes driver-local sentence
    dicts for inference-path evaluation."""
    gold = spark.read.parquet(fixture_paths["gold"])
    key = F.md5(
        F.concat_ws(":", "conv_id", F.col("turn_idx"), F.col("sent_idx"))
    )
    bucket = F.conv(F.substring(key, 1, 4), 16, 10).cast("long") % 5
    train_df = gold.filter(bucket != 0).persist()
    train_df.count()
    heldout = train.sentences_from_gold_rows(
        [r.asDict(recursive=True) for r in gold.filter(bucket == 0).collect()]
    )
    yield train_df, heldout
    train_df.unpersist()


@pytest.fixture(scope="module")
def fixture_model(fixture_paths):
    with np.load(fixture_paths["weights"]) as z:
        w = {k: z[k] for k in z.files}
    with open(fixture_paths["vocab"]) as f:
        vocab = json.load(f)
    return w, vocab


class TestMentionDetectorTraining:
    def test_recovers_from_degraded_init(self, gold_split, fixture_model):
        train_df, heldout = gold_split
        w, vocab = fixture_model
        assert len(heldout) > 100
        base = train.mention_prf(w, vocab, heldout)["f1"]
        wd = _degrade(w, np.random.default_rng(0), rel_too=False)
        degraded = train.mention_prf(wd, vocab, heldout)["f1"]
        assert degraded < 0.2, "degradation must actually break the model"

        trained, history = train.fit_joint(
            train_df, wd, vocab, epochs=12, lr=0.05, rel_weight=0.0
        )
        assert history[-1]["crf"] < 0.1 * history[0]["crf"]
        got = train.mention_prf(trained, vocab, heldout)["f1"]
        assert got >= 0.95 * base, (got, base, history)
        # trained arrays carry the inference dtype
        assert trained["emit_W"].dtype == np.float32
        # rel decoder untouched in detector-only mode
        np.testing.assert_array_equal(trained["rel_W1"], wd["rel_W1"])

    def test_joint_beats_decoder_only_on_triples(
        self, spark, gold_split, fixture_model, fixture_paths
    ):
        """With BOTH the encoder and the relation decoder degraded,
        decoder-only training (frozen broken encoder) cannot recover
        triples; the joint objective retrains everything and must land
        within 5 points of the fixture's own triple F1 AND clearly above
        the decoder-only run."""
        train_df, heldout = gold_split
        w, vocab = fixture_model
        wd = _degrade(w, np.random.default_rng(0), rel_too=True)
        assert train.triple_prf(wd, vocab, heldout)["f1"] < 0.1

        # decoder-only: frozen degraded encoder features -> rel MLP fit
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            npz = f"{td}/degraded.npz"
            np.savez(npz, **wd)
            w_bc, v_bc, key = broadcast_model(
                spark, npz, fixture_paths["vocab"]
            )
            pairs = train.pair_training_frame(
                train_df, w_bc, v_bc, key
            ).persist()
            pairs.count()
            dim_in = len(pairs.first()["feat"])
            dec_w, _h = train.fit_relation_decoder(
                pairs, dim_in=dim_in, epochs=60, lr=0.1
            )
            pairs.unpersist()
        dec_only = dict(wd, **dec_w)
        dec_f1 = train.triple_prf(dec_only, vocab, heldout)["f1"]

        joint, history = train.fit_joint(
            train_df, wd, vocab, epochs=30, lr=0.05, rel_weight=1.0
        )
        joint_f1 = train.triple_prf(joint, vocab, heldout)["f1"]
        base_f1 = train.triple_prf(w, vocab, heldout)["f1"]
        assert joint_f1 >= base_f1 - 0.05, (joint_f1, base_f1)
        assert joint_f1 >= dec_f1 + 0.3, (joint_f1, dec_f1, history[-5:])


class TestSampledEpochs:
    def test_minibatch_sampling_still_learns(self, gold_split, fixture_model):
        """The 10^12-scale path: each epoch trains on a seeded HALF
        sample of the gold table (minibatch SGD at DataFrame
        granularity). Must still recover the degraded detector to
        >= 0.95x the fixture F1 — with more epochs than full-batch, but
        each epoch costing half the scan."""
        train_df, heldout = gold_split
        w, vocab = fixture_model
        base = train.mention_prf(w, vocab, heldout)["f1"]
        wd = _degrade(w, np.random.default_rng(0), rel_too=False)
        trained, history = train.fit_joint(
            train_df, wd, vocab, epochs=18, lr=0.05, rel_weight=0.0,
            sample_fraction=0.5,
        )
        got = train.mention_prf(trained, vocab, heldout)["f1"]
        assert got >= 0.95 * base, (got, base, history[-3:])


class TestMinimumRisk:
    def test_distributed_mrt_recovers_f1(self, gold_split, fixture_model):
        """The reference's EMNLP'18-style objective, distributed: from
        the degraded init, minimizing expected span-F1 risk over k-best
        candidates must recover held-out mention F1 to >= 0.95x the
        fixture weights — and the per-epoch mean risk must collapse."""
        train_df, heldout = gold_split
        w, vocab = fixture_model
        base = train.mention_prf(w, vocab, heldout)["f1"]
        wd = _degrade(w, np.random.default_rng(0), rel_too=False)
        trained, history = train.fit_mrt(
            train_df, wd, vocab, epochs=12, lr=0.05, k=5
        )
        assert history[-1] < 0.1 * history[0], history
        got = train.mention_prf(trained, vocab, heldout)["f1"]
        assert got >= 0.95 * base, (got, base, history)


class TestGCNRefinement:
    def test_refine_trains_the_gcn_head(self, gold_split, fixture_model):
        """r5 verdict task 2 — the F4 GCN head was the last fixture-only
        parameter set. From a degraded (random) head: (a) fit_joint(
        refine=True) must collapse the GCN cross-entropy; (b) its model
        evaluated WITH refine_types=True must beat the refine=False-
        trained model carrying the same degraded head (which actively
        flips types once the retrained encoder's hidden scale grows);
        (c) refinement must cost the refined model almost nothing vs its
        own plain-mode F1 (the trained head learns to agree with the
        decoder except on graph evidence); (d) without refine, the gcn_*
        arrays pass through untouched — inference defaults unchanged."""
        train_df, heldout = gold_split
        w, vocab = fixture_model
        rng = np.random.default_rng(1)
        wd = dict(w)
        for k, sc in (("gcn_W", 1.0), ("gcn_type_W", 1.0), ("gcn_type_b", 0.5)):
            wd[k] = (rng.standard_normal(w[k].shape) * sc).astype(np.float32)

        plain, _hp = train.fit_joint(
            train_df, wd, vocab, epochs=20, lr=0.05, rel_weight=1.0
        )
        refined, hr = train.fit_joint(
            train_df, wd, vocab, epochs=20, lr=0.05, rel_weight=1.0,
            refine=True,
        )
        # (a) GCN loss collapses
        assert hr[-1]["gcn"] < 0.5 * hr[0]["gcn"], hr
        # (d) non-refine run passes the degraded head through untouched
        np.testing.assert_array_equal(plain["gcn_W"], wd["gcn_W"])
        assert refined["gcn_W"].dtype == np.float32
        assert not np.array_equal(refined["gcn_W"], wd["gcn_W"])
        # (b) joint-with-refinement beats joint-without under
        # refine_types=True inference (calibration: 0.97 vs 0.23)
        f1_plain = train.triple_prf(plain, vocab, heldout, refine_types=True)["f1"]
        f1_ref = train.triple_prf(refined, vocab, heldout, refine_types=True)["f1"]
        assert f1_ref >= f1_plain + 0.3, (f1_ref, f1_plain)
        # (c) refinement costs the refined model < 5% vs its plain mode
        f1_ref_off = train.triple_prf(refined, vocab, heldout)["f1"]
        assert f1_ref >= 0.95 * f1_ref_off, (f1_ref, f1_ref_off)


class TestTreeReduce:
    @pytest.fixture(scope="class")
    def many(self, gold_split):
        """The training table at 24 partitions: above COMBINE_ABOVE = 16,
        so the epoch driver takes the two-level reduce."""
        many = gold_split[0].repartition(24).persist()
        many.count()
        yield many
        many.unpersist()

    def test_combine_stage_is_value_identical(self, many, fixture_model, monkeypatch):
        """The two-level gradient reduce (train.COMBINE_ABOVE) must
        be pure composition: training histories with and without the
        combiner stage are identical — it only changes WHERE the
        partial-row sums happen (8 combiner tasks vs the driver)."""
        w, vocab = fixture_model
        monkeypatch.setattr(train, "COMBINE_ABOVE", 16)
        _t1, h_comb = train.fit_joint(
            many, w, vocab, epochs=2, lr=0.05, rel_weight=1.0
        )
        monkeypatch.setattr(train, "COMBINE_ABOVE", 10**9)
        _t2, h_flat = train.fit_joint(
            many, w, vocab, epochs=2, lr=0.05, rel_weight=1.0
        )
        assert h_comb == h_flat, (h_comb, h_flat)

    def test_mrt_combine_stage_matches_flat(self, many, fixture_model, monkeypatch):
        """fit_mrt runs the same epoch driver, so it takes the same tree
        reduce above COMBINE_ABOVE partitions with the same history."""
        w, vocab = fixture_model
        monkeypatch.setattr(train, "COMBINE_ABOVE", 16)
        _t1, h_comb = train.fit_mrt(many, w, vocab, epochs=2, lr=0.05)
        monkeypatch.setattr(train, "COMBINE_ABOVE", 10**9)
        _t2, h_flat = train.fit_mrt(many, w, vocab, epochs=2, lr=0.05)
        assert h_comb == h_flat, (h_comb, h_flat)
