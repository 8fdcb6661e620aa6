"""Gradient correctness for the CRF sequence loss + encoder backprop
(antnre_spark/encoder_grad.py): central finite differences at random
coordinates of EVERY trainable array, plus forward parity with the
inference model (nnmodel.encode). Pure numpy — no Spark session."""

from __future__ import annotations

import numpy as np
import pytest

from antnre_spark import encoder_grad as eg
from antnre_spark.nnmodel import N_TAGS, TAGS, AntNREModel


def _tiny_weights(rng: np.random.Generator, V: int = 30) -> dict[str, np.ndarray]:
    """Random small weights with the production architecture's shapes
    (smaller dims so finite differences are fast)."""
    wd, cd, co, h, rh = 6, 4, 5, 7, 8
    def g(*shape):
        return (rng.standard_normal(shape) * 0.3).astype(np.float64)

    return {
        "word_emb": g(V, wd),
        "char_emb": g(96, cd),
        "char_conv_W": g(co, 3 * cd),
        "char_conv_b": g(co),
        "lstm_fw_W": g(4 * h, wd + co),
        "lstm_fw_U": g(4 * h, h),
        "lstm_fw_b": g(4 * h),
        "lstm_bw_W": g(4 * h, wd + co),
        "lstm_bw_U": g(4 * h, h),
        "lstm_bw_b": g(4 * h),
        "emit_W": g(2 * h, N_TAGS),
        "emit_b": g(N_TAGS),
        "crf_transitions": g(N_TAGS, N_TAGS) * 0.1,
        "gaz_emis": g(V, N_TAGS) * 0.1,
        "rel_W1": g(6 * h, rh),
        "rel_b1": g(rh),
        "rel_W2": g(rh, 6),
        "rel_b2": g(6),
        "gcn_W": g(2 * h, 5),
        "gcn_type_W": g(5, 4),
        "gcn_type_b": g(4),
    }


def _tiny_batch() -> tuple[list[dict], dict[str, int]]:
    vocab = {"[PAD]": 0, "[UNK]": 1}
    words = ["alice", "smith", "works", "for", "acme", "corp", "in", "paris", "."]
    for t in words:
        vocab[t] = len(vocab)
    sentences = [
        {
            "tokens": ["alice", "smith", "works", "for", "acme", "corp", "."],
            "spans": [(0, 2, "Peop"), (4, 6, "Org")],
            "rels": {(0, 1): 1},
        },
        {
            "tokens": ["acme", "in", "paris"],
            "spans": [(0, 1, "Org"), (2, 3, "Loc")],
            "rels": {(0, 1): 4},
        },
        {
            # out-of-vocab + empty-ish token exercises UNK and char paths
            "tokens": ["zzz", "works", "in", "paris"],
            "spans": [(3, 4, "Loc")],
            "rels": {},
        },
    ]
    return sentences, vocab


class TestCRF:
    def test_nll_is_proper_probability(self):
        """exp(-nll) over all valid tag sequences sums to 1 (brute force
        on a short sentence) — the forward algorithm computes a true
        log-partition over the CONSTRAINED distribution."""
        rng = np.random.default_rng(7)
        T = 4
        em = rng.standard_normal((T, N_TAGS))
        trans = rng.standard_normal((N_TAGS, N_TAGS)) * 0.5
        import itertools

        from antnre_spark.nnmodel import CRF_CONSTRAINTS, START_CONSTRAINTS

        teff = trans + CRF_CONSTRAINTS
        total = 0.0
        nlls = {}
        for seq in itertools.product(range(N_TAGS), repeat=T):
            score = START_CONSTRAINTS[seq[0]] + em[0, seq[0]]
            for t in range(1, T):
                score += teff[seq[t - 1], seq[t]] + em[t, seq[t]]
            nlls[seq] = score
        m = max(nlls.values())
        logZ_brute = m + np.log(sum(np.exp(s - m) for s in nlls.values()))
        gold = (0, 1, 2, 0)  # O B-Peop I-Peop O — valid BIO
        nll, _de, _dt = eg.crf_nll_grad(em, np.array(gold), trans)
        assert nll == pytest.approx(float(logZ_brute - nlls[gold]), rel=1e-10)
        total = sum(np.exp(s - logZ_brute) for s in nlls.values())
        assert total == pytest.approx(1.0, rel=1e-9)

    def test_finite_difference_emissions_and_transitions(self):
        rng = np.random.default_rng(11)
        T = 6
        em = rng.standard_normal((T, N_TAGS))
        trans = rng.standard_normal((N_TAGS, N_TAGS)) * 0.5
        tags = np.array([TAGS.index(t) for t in ["O", "B-Org", "I-Org", "O", "B-Loc", "O"]])
        nll, d_em, d_tr = eg.crf_nll_grad(em, tags, trans)
        eps = 1e-6
        for _ in range(15):
            t, k = rng.integers(T), rng.integers(N_TAGS)
            ep, em_ = em.copy(), em.copy()
            ep[t, k] += eps
            em_[t, k] -= eps
            num = (eg.crf_nll_grad(ep, tags, trans)[0] - eg.crf_nll_grad(em_, tags, trans)[0]) / (2 * eps)
            assert num == pytest.approx(d_em[t, k], rel=1e-5, abs=1e-7)
        for _ in range(15):
            a, b = rng.integers(N_TAGS), rng.integers(N_TAGS)
            tp, tm = trans.copy(), trans.copy()
            tp[a, b] += eps
            tm[a, b] -= eps
            num = (eg.crf_nll_grad(em, tags, tp)[0] - eg.crf_nll_grad(em, tags, tm)[0]) / (2 * eps)
            assert num == pytest.approx(d_tr[a, b], rel=1e-5, abs=1e-7)


class TestEncoderChain:
    @pytest.mark.parametrize(
        "rel_weight,gcn_weight", [(0.0, 0.0), (0.5, 0.0), (0.5, 0.7)]
    )
    def test_full_chain_finite_difference(self, rel_weight, gcn_weight):
        """End-to-end: d(total loss)/d(param) by backprop matches central
        finite differences at random coordinates of EVERY encoder array
        (and, in joint mode, every relation array; in refine mode, every
        GCN array — r5 verdict task 2)."""
        rng = np.random.default_rng(3)
        sentences, vocab = _tiny_batch()
        w = _tiny_weights(rng, V=len(vocab))
        shapes = {k: w[k].shape for k in w}

        def loss_at(enc_flat, rel_flat, gcn_flat):
            ww = dict(w)
            ww.update(eg.unflatten_params(enc_flat, shapes, eg.ENC_PARAMS))
            ww.update(eg.unflatten_params(rel_flat, shapes, eg.REL_PARAMS))
            ww.update(eg.unflatten_params(gcn_flat, shapes, eg.GCN_PARAMS))
            out = eg.batch_loss_grad(
                ww, vocab, sentences,
                rel_weight=rel_weight, gcn_weight=gcn_weight,
            )
            return out[3] + out[4] + out[5]

        enc0 = eg.flatten_params(w, eg.ENC_PARAMS)
        rel0 = eg.flatten_params(w, eg.REL_PARAMS)
        gcn0 = eg.flatten_params(w, eg.GCN_PARAMS)
        enc_g, rel_g, gcn_g, cl, rl, gl, nt, npair, nnode = eg.batch_loss_grad(
            w, vocab, sentences,
            rel_weight=rel_weight, gcn_weight=gcn_weight,
        )
        assert nt == sum(len(s["tokens"]) for s in sentences)
        if rel_weight:
            assert npair > 0
        if gcn_weight:
            assert nnode == sum(len(s["spans"]) for s in sentences)
            assert gl > 0.0

        eps = 1e-5
        # probe coordinates inside every named array's slice of the flat
        offsets, o = {}, 0
        for k in eg.ENC_PARAMS:
            offsets[k] = (o, o + int(np.prod(shapes[k])))
            o += int(np.prod(shapes[k]))
        for k in eg.ENC_PARAMS:
            lo, hi = offsets[k]
            for idx in rng.integers(lo, hi, size=3):
                ep, em_ = enc0.copy(), enc0.copy()
                ep[idx] += eps
                em_[idx] -= eps
                num = (loss_at(ep, rel0, gcn0) - loss_at(em_, rel0, gcn0)) / (2 * eps)
                assert num == pytest.approx(enc_g[idx], rel=2e-3, abs=2e-6), k
        if rel_weight:
            ro, o = {}, 0
            for k in eg.REL_PARAMS:
                ro[k] = (o, o + int(np.prod(shapes[k])))
                o += int(np.prod(shapes[k]))
            for k in eg.REL_PARAMS:
                lo, hi = ro[k]
                for idx in rng.integers(lo, hi, size=3):
                    rp, rm = rel0.copy(), rel0.copy()
                    rp[idx] += eps
                    rm[idx] -= eps
                    num = (loss_at(enc0, rp, gcn0) - loss_at(enc0, rm, gcn0)) / (2 * eps)
                    assert num == pytest.approx(rel_g[idx], rel=2e-3, abs=2e-6), k
        if gcn_weight:
            go, o = {}, 0
            for k in eg.GCN_PARAMS:
                go[k] = (o, o + int(np.prod(shapes[k])))
                o += int(np.prod(shapes[k]))
            for k in eg.GCN_PARAMS:
                lo, hi = go[k]
                for idx in rng.integers(lo, hi, size=3):
                    gp, gm = gcn0.copy(), gcn0.copy()
                    gp[idx] += eps
                    gm[idx] -= eps
                    num = (loss_at(enc0, rel0, gp) - loss_at(enc0, rel0, gm)) / (2 * eps)
                    assert num == pytest.approx(gcn_g[idx], rel=2e-3, abs=2e-6), k

    def test_batched_lattice_equals_scalar(self):
        """crf_nll_grad_many over a same-length stack must reproduce the
        scalar crf_nll_grad results exactly (r5 verdict task 3 — the
        length-bucketed lattice is a vectorization, not an approximation)."""
        rng = np.random.default_rng(11)
        trans = (rng.standard_normal((N_TAGS, N_TAGS)) * 0.2)
        for T in (1, 2, 7):
            B = 5
            em = rng.standard_normal((B, T, N_TAGS))
            tags = np.stack(
                [eg.tags_from_spans([(0, 1, "Peop")], T) for _ in range(B)]
            )
            # vary gold paths a bit (keep BIO-valid)
            if T >= 3:
                tags[2] = eg.tags_from_spans([(1, 3, "Org")], T)
            nll_b, d_em_b, d_tr_b = eg.crf_nll_grad_many(em, tags, trans)
            nll_s, d_tr_s = 0.0, np.zeros_like(trans)
            for b in range(B):
                nll, d_em, d_tr = eg.crf_nll_grad(em[b], tags[b], trans)
                nll_s += nll
                d_tr_s += d_tr
                np.testing.assert_allclose(d_em_b[b], d_em, atol=1e-12)
            assert nll_b == pytest.approx(nll_s, rel=1e-12)
            np.testing.assert_allclose(d_tr_b, d_tr_s, atol=1e-10)

    def test_float32_path_matches_float64(self):
        """The float32 scale path (r5 verdict task 3) must produce the
        same losses and gradient direction as float64 within single-
        precision tolerance: losses to ~1e-4 relative, per-coordinate
        gradients to 1e-2 relative / 1e-3 absolute (documented float32
        tolerance — the BPTT chain loses ~3 digits over 7 timesteps)."""
        rng = np.random.default_rng(7)
        sentences, vocab = _tiny_batch()
        w = _tiny_weights(rng, V=len(vocab))
        out64 = eg.batch_loss_grad(
            w, vocab, sentences, rel_weight=0.5, gcn_weight=0.5
        )
        out32 = eg.batch_loss_grad(
            w, vocab, sentences, rel_weight=0.5, gcn_weight=0.5,
            dtype=np.float32,
        )
        for i in (3, 4, 5):  # crf / rel / gcn loss sums
            assert out32[i] == pytest.approx(out64[i], rel=1e-3, abs=1e-5)
        for i in (0, 1, 2):  # enc / rel / gcn gradient vectors
            np.testing.assert_allclose(
                out32[i], out64[i], rtol=1e-2, atol=1e-3
            )
        assert out32[6:] == out64[6:]

    def test_forward_parity_with_inference_model(self, fixture_paths):
        """encoder_forward computes the same hidden states and emissions
        as nnmodel.encode on the shipped fixture weights — the trained
        function IS the deployed function. In float64 it agrees with the
        float32 inference forward to float32 tolerance; in float32, on a
        length-sorted batch (one padded sub-batch, the same GEMM shapes
        as encode), it is bit-identical."""
        import json

        import pyarrow.parquet as pq

        with np.load(fixture_paths["weights"]) as z:
            w = {k: z[k] for k in z.files}
        with open(fixture_paths["vocab"]) as f:
            vocab = json.load(f)
        model = AntNREModel(w, vocab)
        batch = [
            ["alice", "smith", "works", "for", "acme", "corp", "."],
            ["the", "meeting", "starts", "at", "noon"],
            [""],
        ]
        inf = model.encode(batch)
        cache = eg.encoder_forward(w, batch, vocab)
        for (h_inf, e_inf), h_tr, e_tr in zip(
            inf, cache["hidden"], cache["emissions"]
        ):
            np.testing.assert_allclose(h_tr, h_inf, atol=1e-4)
            np.testing.assert_allclose(e_tr, e_inf, atol=1e-4)

        gold = pq.read_table(fixture_paths["gold"], columns=["tokens"])
        sents = [list(t) for t in gold.column("tokens").to_pylist()[:200]]
        batch32 = sorted(sents + [[""]], key=len)
        inf = model.encode(batch32)
        cache = eg.encoder_forward(w, batch32, vocab, dtype=np.float32)
        assert len(cache["hidden"]) == len(inf) == 201
        for (h_inf, e_inf), h_tr, e_tr in zip(
            inf, cache["hidden"], cache["emissions"]
        ):
            assert np.array_equal(h_tr, h_inf)
            assert np.array_equal(e_tr, e_inf)

    def test_tags_from_spans_roundtrip(self):
        spans = [(0, 2, "Peop"), (3, 4, "Loc")]
        tags = eg.tags_from_spans(spans, 5)
        assert [TAGS[t] for t in tags] == ["B-Peop", "I-Peop", "O", "B-Loc", "O"]
        assert AntNREModel.spans_from_tags(tags) == spans


class TestGCNHead:
    def test_gcn_grad_loss_runs_the_shared_forward(self, monkeypatch):
        """gcn_grad_loss takes its logits from nnmodel.gcn_forward — the
        forward refine_mention_types runs at inference — in float64, over
        the gold spans and relation edges, and its loss is the
        cross-entropy of exactly those logits."""
        from antnre_spark.nnmodel import ENT_TYPES

        rng = np.random.default_rng(5)
        sentences, vocab = _tiny_batch()
        w = _tiny_weights(rng, V=len(vocab))
        calls = []
        real = eg.gcn_forward

        def spy(ww, hidden, spans, edges, sink=None):
            out = real(ww, hidden, spans, edges, sink)
            calls.append((hidden, spans, edges, out))
            return out

        monkeypatch.setattr(eg, "gcn_forward", spy)
        s = sentences[0]
        hidden = rng.standard_normal((len(s["tokens"]), 14)).astype(np.float32)
        loss, _g, _dh, n = eg.gcn_grad_loss(hidden, s["spans"], s["rels"], w)
        [(h, spans, edges, logits)] = calls
        assert h.dtype == logits.dtype == np.float64
        assert spans == s["spans"] and set(edges) == set(s["rels"])
        y = [ENT_TYPES.index(t) for _b, _e, t in s["spans"]]
        z = logits - logits.max(axis=1, keepdims=True)
        want = -(z[np.arange(n), y] - np.log(np.exp(z).sum(axis=1))).sum()
        assert loss == pytest.approx(want, rel=1e-12)


class TestMRT:
    """k-best approximate minimum-risk training (the reference's
    EMNLP'18 signature objective): k-best decode properties + exact
    gradients over a fixed candidate set."""

    def test_kbest_top1_equals_viterbi_and_paths_valid(self, fixture_paths):
        import json

        with np.load(fixture_paths["weights"]) as z:
            w = {k: z[k] for k in z.files}
        with open(fixture_paths["vocab"]) as f:
            vocab = json.load(f)
        model = AntNREModel(w, vocab)
        rng = np.random.default_rng(5)
        for _ in range(5):
            T = int(rng.integers(2, 9))
            em = rng.standard_normal((T, 9)).astype(np.float32)
            best = eg.kbest_viterbi(em, w["crf_transitions"], k=4)
            assert len(best) >= 1
            scores = [s for s, _t in best]
            assert scores == sorted(scores, reverse=True)
            np.testing.assert_array_equal(best[0][1], model.viterbi(em))
            from antnre_spark.nnmodel import TAGS
            for _s, tags in best:
                # BIO validity: no I-x after anything but B-x/I-x
                prev = "O"
                for tid in tags:
                    tag = TAGS[int(tid)]
                    if tag.startswith("I-"):
                        assert prev in (f"B-{tag[2:]}", f"I-{tag[2:]}")
                    prev = tag

    def test_mrt_finite_difference_fixed_candidates(self):
        rng = np.random.default_rng(9)
        T = 6
        em = rng.standard_normal((T, 9))
        trans = rng.standard_normal((9, 9)) * 0.3
        gold = [(1, 3, "Org")]
        # freeze the candidate set at the base point
        _L0, _de, _dt, cands = eg.mrt_sentence_grad(em, gold, trans, k=4)
        L, d_em, d_tr, _ = eg.mrt_sentence_grad(
            em, gold, trans, candidates=cands
        )
        eps = 1e-6
        for _ in range(12):
            t, kk = rng.integers(T), rng.integers(9)
            ep_, em_ = em.copy(), em.copy()
            ep_[t, kk] += eps
            em_[t, kk] -= eps
            lp = eg.mrt_sentence_grad(ep_, gold, trans, candidates=cands)[0]
            lm = eg.mrt_sentence_grad(em_, gold, trans, candidates=cands)[0]
            assert (lp - lm) / (2 * eps) == pytest.approx(
                d_em[t, kk], rel=1e-4, abs=1e-8
            )
        for _ in range(12):
            a, b = rng.integers(9), rng.integers(9)
            tp_, tm_ = trans.copy(), trans.copy()
            tp_[a, b] += eps
            tm_[a, b] -= eps
            lp = eg.mrt_sentence_grad(em, gold, tp_, candidates=cands)[0]
            lm = eg.mrt_sentence_grad(em, gold, tm_, candidates=cands)[0]
            assert (lp - lm) / (2 * eps) == pytest.approx(
                d_tr[a, b], rel=1e-4, abs=1e-8
            )

    def test_float32_transition_gradient_stays_float64(self):
        """Under dtype=float32 only the encoder runs in single precision:
        batch_mrt_grad's transition block must equal the float64 sum of
        the per-sentence mrt_sentence_grad transition gradients exactly,
        not that sum rounded to float32 (the same contract as
        batch_loss_grad's CRF lattice)."""
        rng = np.random.default_rng(11)
        sentences, vocab = _tiny_batch()
        w = _tiny_weights(rng, V=len(vocab))
        flat, _risk, n = eg.batch_mrt_grad(
            w, vocab, sentences, k=4, dtype=np.float32
        )
        assert n == len(sentences)
        cache = eg.encoder_forward(
            w, [s["tokens"] for s in sentences], vocab, dtype=np.float32
        )
        trans = np.asarray(w["crf_transitions"], dtype=np.float64)
        want = np.zeros_like(trans)
        for si, sent in enumerate(sentences):
            want += eg.mrt_sentence_grad(
                cache["emissions"][si], sent["spans"], trans, k=4
            )[2]
        shapes = {k: w[k].shape for k in eg.ENC_PARAMS}
        got = eg.unflatten_params(flat, shapes, eg.ENC_PARAMS)
        assert np.any(want.astype(np.float32).astype(np.float64) != want)
        np.testing.assert_array_equal(got["crf_transitions"], want)

    def test_risk_is_zero_iff_gold_dominates(self):
        """When the model is confident in the gold path, expected risk
        -> 0; when confident in a wrong path, risk -> 1."""
        from antnre_spark.nnmodel import TAGS

        T = 4
        gold = [(0, 2, "Peop")]
        gold_tags = eg.tags_from_spans(gold, T)
        em = np.full((T, 9), -5.0)
        em[np.arange(T), gold_tags] = 5.0
        trans = np.zeros((9, 9))
        L, _de, _dt, _c = eg.mrt_sentence_grad(em, gold, trans, k=4)
        assert L < 0.01
        wrong = eg.tags_from_spans([(0, 2, "Org")], T)
        em2 = np.full((T, 9), -5.0)
        em2[np.arange(T), wrong] = 5.0
        L2, _de, _dt, _c = eg.mrt_sentence_grad(em2, gold, trans, k=4)
        assert L2 > 0.9
