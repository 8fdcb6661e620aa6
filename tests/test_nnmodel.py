"""Unit tests for the numpy model (SURVEY.md §5.2.1): BIO span scan,
Viterbi constraints, batch-composition invariance, tie-break determinism."""

from __future__ import annotations

import numpy as np
import pytest

from antnre_spark.nnmodel import (
    CRF_CONSTRAINTS,
    NEG,
    TAGS,
    AntNREModel,
)


@pytest.fixture(scope="module")
def model(fixture_paths):
    return AntNREModel.from_files(fixture_paths["weights"], fixture_paths["vocab"])


def tag_ids(*names: str) -> np.ndarray:
    return np.array([TAGS.index(n) for n in names], dtype=np.int64)


class TestSpansFromTags:
    def test_simple_spans(self):
        tags = tag_ids("B-Peop", "I-Peop", "O", "B-Org", "O")
        assert AntNREModel.spans_from_tags(tags) == [(0, 2, "Peop"), (3, 4, "Org")]

    def test_adjacent_b_starts_new_span(self):
        tags = tag_ids("B-Loc", "B-Loc", "I-Loc")
        assert AntNREModel.spans_from_tags(tags) == [(0, 1, "Loc"), (1, 3, "Loc")]

    def test_trailing_span_closed(self):
        tags = tag_ids("O", "B-Other", "I-Other")
        assert AntNREModel.spans_from_tags(tags) == [(1, 3, "Other")]

    def test_empty(self):
        assert AntNREModel.spans_from_tags(np.zeros(0, dtype=np.int64)) == []


class TestCRFConstraints:
    def test_o_to_i_forbidden(self):
        assert CRF_CONSTRAINTS[TAGS.index("O"), TAGS.index("I-Peop")] == NEG

    def test_b_to_matching_i_allowed(self):
        assert CRF_CONSTRAINTS[TAGS.index("B-Org"), TAGS.index("I-Org")] == 0.0

    def test_b_to_mismatched_i_forbidden(self):
        assert CRF_CONSTRAINTS[TAGS.index("B-Org"), TAGS.index("I-Loc")] == NEG

    def test_decode_never_emits_invalid_bio(self, model):
        rng = np.random.default_rng(7)
        for _ in range(20):
            emis = rng.standard_normal((12, len(TAGS))).astype(np.float32) * 3
            tags = [TAGS[t] for t in model.viterbi(emis)]
            prev = "O"
            for t in tags:
                if t.startswith("I-"):
                    assert prev in (f"B-{t[2:]}", f"I-{t[2:]}"), tags
                prev = t


class TestBatchInvariance:
    """The core determinism property (SURVEY.md §7.3.2): per-sentence output
    must not depend on which other sentences share the batch."""

    SENTS = [
        "John Smith works for Acme Corp .".split(),
        "Mary Johnson killed David Moore in Narnia .".split(),
        "the meeting starts at noon .".split(),
        "Globex Industries is based in Gotham .".split(),
        "a b c d e f g h i j k l m n o p q r s t".split(),
    ]

    def test_alone_vs_batched(self, model):
        batched = model.extract(self.SENTS)
        for i, sent in enumerate(self.SENTS):
            alone = model.extract([sent])[0]
            assert alone == batched[i]

    def test_order_shuffled(self, model):
        fwd = model.extract(self.SENTS)
        rev = model.extract(self.SENTS[::-1])[::-1]
        assert fwd == rev

    def test_repeated_call_identical(self, model):
        assert model.extract(self.SENTS) == model.extract(self.SENTS)


class TestExtractionSemantics:
    def test_known_sentence(self, model):
        [(mentions, relations)] = model.extract(
            ["John Smith works for Acme Corp .".split()]
        )
        assert [(m.begin, m.end, m.ent_type) for m in mentions] == [
            (0, 2, "Peop"),
            (4, 6, "Org"),
        ]
        assert [(r.subj, r.obj, r.pred) for r in relations] == [(0, 1, "Work_For")]

    def test_no_entities_in_filler(self, model):
        [(mentions, relations)] = model.extract(
            ["please review the attached report .".split()]
        )
        assert mentions == [] and relations == []

    def test_type_validity_mask(self, model):
        # Peop-Peop can only be Kill/None; "met" must NOT yield Work_For
        [(mentions, relations)] = model.extract(
            ["John Smith met Mary Johnson at Acme Corp .".split()]
        )
        peop_idx = [i for i, m in enumerate(mentions) if m.ent_type == "Peop"]
        for r in relations:
            if r.subj in peop_idx and r.obj in peop_idx:
                assert r.pred == "Kill"


class TestGCNRefinement:
    """F4: GCN joint type refinement (SURVEY.md §2.F)."""

    def test_flag_off_is_identity(self, model):
        toks = ["John Smith works for Acme Corp .".split()]
        assert model.extract(toks) == model.extract(toks, refine_types=False)

    def test_fixture_weights_keep_decoded_types(self, model):
        """Untrained fixture GCN (scale << GCN_KEEP_MARGIN) must not
        scramble the decoded output on the known sentence."""
        [(mentions, relations)] = model.extract(
            ["John Smith works for Acme Corp .".split()], refine_types=True
        )
        assert [(m.begin, m.end, m.ent_type) for m in mentions] == [
            (0, 2, "Peop"),
            (4, 6, "Org"),
        ]
        assert [(r.subj, r.obj, r.pred) for r in relations] == [
            (0, 1, "Work_For")
        ]

    def test_strong_graph_evidence_flips_type_and_drops_relation(
        self, fixture_paths
    ):
        """Mechanism check with crafted GCN weights: a type head that
        strongly favors 'Loc' overrides the keep-margin, and the Work_For
        relation (Peop->Org) becomes type-invalid and is dropped."""
        import json

        from antnre_spark.nnmodel import ENT_TYPES

        with np.load(fixture_paths["weights"]) as z:
            w = {k: z[k] for k in z.files}
        with open(fixture_paths["vocab"]) as f:
            vocab = json.load(f)
        w["gcn_type_b"] = np.full(len(ENT_TYPES), -100.0, dtype=np.float32)
        w["gcn_type_b"][ENT_TYPES.index("Loc")] = 100.0
        forced = AntNREModel(w, vocab)
        toks = ["John Smith works for Acme Corp .".split()]
        [(base_m, base_r)] = forced.extract(toks)
        assert [m.ent_type for m in base_m] == ["Peop", "Org"] and base_r
        [(ref_m, ref_r)] = forced.extract(toks, refine_types=True)
        assert [m.ent_type for m in ref_m] == ["Loc", "Loc"]
        assert ref_r == []  # Work_For invalid for (Loc, Loc) -> dropped

    def test_spark_stage_parity_with_refinement(self, spark, fixture_paths):
        """extract_sentences(refine_types=True) row-identical to the direct
        model call with refinement — the distributed pass adds nothing."""
        from antnre_spark import extract

        sents = [
            ("c0", 0, 0, "John Smith works for Acme Corp .".split()),
            ("c0", 1, 0, "Mary Johnson lives in Springfield .".split()),
            ("c1", 0, 0, "please review the attached report .".split()),
        ]
        df = spark.createDataFrame(
            sents, "conv_id: string, turn_idx: int, sent_idx: int, tokens: array<string>"
        )
        w_bc, v_bc, key = extract.broadcast_model(
            spark, fixture_paths["weights"], fixture_paths["vocab"]
        )
        got = {
            (r["conv_id"], r["turn_idx"]): (
                [(m["begin"], m["end"], m["ent_type"]) for m in r["mentions"]],
                [(x["pred"],) for x in r["relations"]],
            )
            for r in extract.extract_sentences(
                df, w_bc, v_bc, model_key=key + ":gcn", refine_types=True
            ).collect()
        }
        model = AntNREModel.from_files(
            fixture_paths["weights"], fixture_paths["vocab"]
        )
        direct = model.extract([s[3] for s in sents], refine_types=True)
        want = {
            (s[0], s[1]): (
                [(m.begin, m.end, m.ent_type) for m in ms],
                [(r.pred,) for r in rs],
            )
            for s, (ms, rs) in zip(sents, direct)
        }
        assert got == want


    def test_gcn_forward_is_the_refinement_forward(
        self, model, fixture_paths, monkeypatch
    ):
        """refine_mention_types takes its logits from nnmodel.gcn_forward,
        and in float32 on the fixture weights those logits are
        bit-identical to the F4 round written out inline (span-mean nodes,
        symmetric row-normalized adjacency with self-loops, relu(A X W)
        Wt + b) over every fixture gold sentence's decoded mention graph."""
        import pyarrow.parquet as pq

        from antnre_spark import nnmodel

        gold = pq.read_table(fixture_paths["gold"], columns=["tokens"])
        toks = [list(t) for t in gold.column("tokens").to_pylist()]
        calls = []
        real = nnmodel.gcn_forward

        def spy(w, hidden, spans, edges, sink=None):
            out = real(w, hidden, spans, edges, sink)
            calls.append((hidden, spans, edges, out))
            return out

        monkeypatch.setattr(nnmodel, "gcn_forward", spy)
        model.extract(toks, refine_types=True)
        assert len(calls) > 1000 and any(edges for _h, _s, edges, _o in calls)
        w = model.w
        for hidden, spans, edges, logits in calls:
            X = np.stack([hidden[b:e].mean(axis=0) for b, e in spans])
            A = np.eye(len(spans), dtype=np.float32)
            for i, j in edges:
                A[i, j] = 1.0
                A[j, i] = 1.0
            A = A / A.sum(axis=1, keepdims=True)
            H = np.maximum(A @ X @ w["gcn_W"], 0.0)
            want = H @ w["gcn_type_W"] + w["gcn_type_b"]
            assert logits.dtype == np.float32
            assert logits.tobytes() == want.tobytes()


class TestBatchedViterbi:
    def test_viterbi_many_matches_single(self, model):
        rng = np.random.default_rng(11)
        for T in (1, 2, 7, 19):
            emis = rng.standard_normal((16, T, len(TAGS))).astype(np.float32)
            batched = model.viterbi_many(emis)
            for b in range(16):
                assert (batched[b] == model.viterbi(emis[b])).all()


class TestMarginalConfidence:
    """r5 E5 upgrade: CRF posterior-marginal confidence (tag_marginals)
    — the exact quantity the decoded-path softmax approximates."""

    def test_marginals_are_distributions(self, model):
        emis = np.random.default_rng(3).standard_normal((7, 9)).astype(np.float32)
        g = model.tag_marginals(emis)
        assert g.shape == (7, 9)
        np.testing.assert_allclose(g.sum(axis=1), 1.0, atol=1e-9)
        assert (g >= 0).all()

    def test_marginals_match_bruteforce_enumeration(self, model):
        """Forward-backward marginals equal the brute-force sum over all
        constrained tag sequences on a short sentence."""
        import itertools

        from antnre_spark.nnmodel import (
            CRF_CONSTRAINTS,
            N_TAGS,
            START_CONSTRAINTS,
        )

        rng = np.random.default_rng(11)
        T = 3
        emis = rng.standard_normal((T, N_TAGS))
        trans = model.w["crf_transitions"].astype(np.float64) + CRF_CONSTRAINTS
        scores = {}
        for seq in itertools.product(range(N_TAGS), repeat=T):
            s = START_CONSTRAINTS[seq[0]] + emis[0, seq[0]]
            for t in range(1, T):
                s += trans[seq[t - 1], seq[t]] + emis[t, seq[t]]
            scores[seq] = s
        m = max(scores.values())
        Z = sum(np.exp(s - m) for s in scores.values())
        want = np.zeros((T, N_TAGS))
        for seq, s in scores.items():
            p = np.exp(s - m) / Z
            for t, k in enumerate(seq):
                want[t, k] += p
        got = model.tag_marginals(emis)
        np.testing.assert_allclose(got, want, atol=1e-9)

    def test_marginal_mode_same_spans_true_probability(self, model):
        toks = ["alice", "liddell", "works", "for", "acme", "corp", "."]
        [(h, e)] = model.encode([toks])
        local = model.extract_mentions(h, e, conf_mode="local")
        marg = model.extract_mentions(h, e, conf_mode="marginal")
        assert [(m.begin, m.end, m.ent_type) for m in local] == [
            (m.begin, m.end, m.ent_type) for m in marg
        ]
        assert len(marg) >= 1
        for m in marg:
            assert 0.0 <= m.conf <= 1.0
            # fixture margins are engineered >= 5.0 — the posterior of
            # the decoded tags should be essentially certain
            assert m.conf > 0.95

    def test_extract_threads_conf_mode(self, model):
        toks = [["alice", "liddell", "works", "for", "acme", "corp", "."]]
        (m_loc, _r1), = model.extract(toks)
        (m_marg, _r2), = model.extract(toks, conf_mode="marginal")
        assert [(m.begin, m.end) for m in m_loc] == [
            (m.begin, m.end) for m in m_marg
        ]

    def test_unknown_conf_mode_rejected(self, model):
        toks = ["alice", "liddell", "works", "for", "acme", "corp", "."]
        [(h, e)] = model.encode([toks])
        with pytest.raises(ValueError, match="conf_mode"):
            model.extract_mentions(h, e, conf_mode="marginals")
