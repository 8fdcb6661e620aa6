"""CRF sequence loss + full encoder backprop (pure numpy, NO pyspark).

The reference *trains* its joint model — a BiLSTM-CRF mention detector
plus a span-pair relation classifier (BASELINE.json:6; SURVEY.md
§2.E/§2.F, `[pub: antNRE/src/seq_decoder.py, entrel/train]` unverified).
The forward math is nnmodel's (char_row, encode_padded, crf_lattice,
pair_features, gcn_forward), run in the training dtype with backward
caches; this module adds the losses and the backward passes:

- ``crf_nll_grad``: the CRF negative log-likelihood from the
  crf_lattice log-partition, the posterior unary + pairwise marginals,
  and from them the exact gradients w.r.t. emissions and the transition
  matrix. The BIO constraints Viterbi decodes under
  (nnmodel.constrained_crf) enter the partition function as additive
  constants, so training optimizes the *constrained* distribution.
- ``encoder_forward``: nnmodel's padded forward, keeping the caches the
  backward needs — float64 so finite-difference gradient checks are
  meaningful, or float32 for the corpus-scale path.
- ``encoder_backward``: backprop through emissions → BiLSTM (BPTT with
  the mask-carry rule) → input concat → word embeddings (scatter-add)
  and the char-CNN (maxpool argmax routing, relu mask, conv weights,
  char-embedding scatter-add).
- ``batch_loss_grad``: the per-Arrow-batch unit the distributed trainer
  calls — one padded forward, per-sentence CRF NLL, optional *joint*
  relation cross-entropy over gold-span pairs (nnmodel.pair_features)
  whose feature gradient flows back into the encoder hidden states, one
  shared backward.

Everything here returns SUMS (loss sums, gradient sums, token counts),
which compose across partitions by addition (train._run_epochs).

Gradient correctness is pinned by central finite differences at random
parameter coordinates for every trainable array (tests/test_train_encoder
.py); tests/test_encoder_grad.py pins the float32 forward equal to
nnmodel.encode.
"""

from __future__ import annotations

import numpy as np

from antnre_spark.nnmodel import (
    ENT_TYPES,
    N_TAGS,
    TAGS,
    AntNREModel,
    _softmax,
    char_row,
    constrained_crf,
    crf_lattice,
    encode_padded,
    gcn_forward,
    pair_features,
)

# canonical flattening order for the encoder gradient vector. gaz_emis is
# trainable on purpose: it is the model's lexical-emission feature table
# (per-word-id tag scores) — the fixture generator seeds it from the
# gazetteer, but a trained run LEARNS it (the degraded-init recovery test
# zeroes it first).
ENC_PARAMS = (
    "word_emb",
    "char_emb",
    "char_conv_W",
    "char_conv_b",
    "lstm_fw_W",
    "lstm_fw_U",
    "lstm_fw_b",
    "lstm_bw_W",
    "lstm_bw_U",
    "lstm_bw_b",
    "emit_W",
    "emit_b",
    "crf_transitions",
    "gaz_emis",
)

REL_PARAMS = ("rel_W1", "rel_b1", "rel_W2", "rel_b2")

# F4 GCN type-refinement head (the last fixture-only parameter set):
# trained jointly with the encoder when fit_joint(refine=True),
# teacher-forced on the GOLD mention graph.
GCN_PARAMS = ("gcn_W", "gcn_type_W", "gcn_type_b")


def flatten_params(w: dict[str, np.ndarray], keys: tuple[str, ...]) -> np.ndarray:
    return np.concatenate([np.asarray(w[k], dtype=np.float64).ravel() for k in keys])


def unflatten_params(
    flat: np.ndarray, shapes: dict[str, tuple[int, ...]], keys: tuple[str, ...]
) -> dict[str, np.ndarray]:
    out, o = {}, 0
    for k in keys:
        n = int(np.prod(shapes[k]))
        out[k] = flat[o : o + n].reshape(shapes[k])
        o += n
    if o != len(flat):
        raise ValueError(f"flat length {len(flat)} != param total {o}")
    return out


def tags_from_spans(spans: list[tuple[int, int, str]], n_tokens: int) -> np.ndarray:
    """Gold (begin, end, type) spans -> BIO tag-id sequence."""
    tags = np.zeros(n_tokens, dtype=np.int64)
    for b, e, t in spans:
        tags[b] = TAGS.index(f"B-{t}")
        for p in range(b + 1, e):
            tags[p] = TAGS.index(f"I-{t}")
    return tags


def _softmax_xent(logits: np.ndarray, y: np.ndarray) -> tuple[float, np.ndarray]:
    """Softmax cross-entropy SUM over the rows of ``logits`` [n, k] with
    gold ids ``y`` [n], and its gradient w.r.t. the logits."""
    P = _softmax(logits, axis=1)
    rows = np.arange(len(y))
    loss = float(-np.log(P[rows, y] + 1e-300).sum())
    P[rows, y] -= 1.0
    return loss, P


def _logsumexp(x: np.ndarray, axis: int) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    return (m + np.log(np.exp(x - m).sum(axis=axis, keepdims=True))).squeeze(axis)


def crf_nll_grad(
    emissions: np.ndarray, tags: np.ndarray, transitions: np.ndarray
) -> tuple[float, np.ndarray, np.ndarray]:
    """Constrained-CRF negative log-likelihood of one tag sequence and its
    exact gradients.

    Returns (nll, d_emissions [T, n_tags], d_transitions [n_tags, n_tags]).
    d_emissions = unary posterior marginals − one-hot(gold);
    d_transitions = Σ_t pairwise posterior marginals − gold transition
    counts (the standard exponential-family moment-matching identity).
    The BIO constraints enter as additive constants (−1e4), so they shift
    logZ and the gold score identically and the gradient w.r.t. the
    *learned* transition matrix is just the constrained marginals.
    """
    T = emissions.shape[0]
    if T == 0:
        return 0.0, np.zeros_like(emissions), np.zeros_like(transitions)
    em = emissions.astype(np.float64)
    trans, start = constrained_crf(transitions, np.float64)
    alpha, beta = crf_lattice(em, trans)
    logZ = float(_logsumexp(alpha[T - 1], axis=0))
    gamma = np.exp(alpha + beta - logZ)  # unary marginals [T, n_tags]
    nll = logZ - _path_score(em, trans, start, tags)

    d_em = gamma.copy()
    d_em[np.arange(T), tags] -= 1.0

    d_trans = np.zeros((N_TAGS, N_TAGS), dtype=np.float64)
    for t in range(T - 1):
        xi = np.exp(
            alpha[t][:, None] + trans + em[t + 1][None, :] + beta[t + 1][None, :] - logZ
        )
        d_trans += xi
    if T > 1:
        np.add.at(d_trans, (tags[:-1], tags[1:]), -1.0)
    return nll, d_em, d_trans


def crf_nll_grad_many(
    emissions: np.ndarray, tags: np.ndarray, transitions: np.ndarray
) -> tuple[float, np.ndarray, np.ndarray]:
    """Batched crf_nll_grad over B same-length sentences (the
    length-bucketed lattice): ``emissions`` [B, T, n_tags],
    ``tags`` [B, T] -> (nll SUM, d_emissions [B, T, n_tags],
    d_transitions SUM). One Python T-loop per length group instead of
    one per sentence; each step is a [B, N, N] numpy op, so the
    per-timestep interpreter overhead (a measured hot loop of the
    scalar path) amortizes over the batch. Math is identical to the
    scalar path (pinned by the equivalence test); always float64 — the
    lattice is tiny, stability matters."""
    B, T = tags.shape
    if T == 0 or B == 0:
        return 0.0, np.zeros_like(emissions), np.zeros_like(transitions)
    em = emissions.astype(np.float64)
    trans, start = constrained_crf(transitions, np.float64)

    # forward (alpha) in log space, [B, T, N]
    alpha = np.empty((B, T, N_TAGS), dtype=np.float64)
    alpha[:, 0] = em[:, 0] + start
    for t in range(1, T):
        alpha[:, t] = (
            _logsumexp(alpha[:, t - 1][:, :, None] + trans[None], axis=1)
            + em[:, t]
        )
    logZ = _logsumexp(alpha[:, T - 1], axis=1)  # [B]

    # backward (beta) in log space
    beta = np.zeros((B, T, N_TAGS), dtype=np.float64)
    for t in range(T - 2, -1, -1):
        beta[:, t] = _logsumexp(
            trans[None] + (em[:, t + 1] + beta[:, t + 1])[:, None, :], axis=2
        )

    gamma = np.exp(alpha + beta - logZ[:, None, None])  # [B, T, N]

    gold = np.array([_path_score(em[b], trans, start, tags[b]) for b in range(B)])
    nll_sum = float((logZ - gold).sum())

    d_em = gamma
    d_em[np.arange(B)[:, None], np.arange(T)[None, :], tags] -= 1.0

    d_trans = np.zeros((N_TAGS, N_TAGS), dtype=np.float64)
    for t in range(T - 1):
        xi = np.exp(
            alpha[:, t][:, :, None]
            + trans[None]
            + (em[:, t + 1] + beta[:, t + 1])[:, None, :]
            - logZ[:, None, None]
        )  # [B, N, N]
        d_trans += xi.sum(axis=0)
    if T > 1:
        np.add.at(d_trans, (tags[:, :-1].ravel(), tags[:, 1:].ravel()), -1.0)
    return nll_sum, d_em, d_trans


# ---------------------------------------------------------------------------
# encoder forward with caches + backward


def _lstm_backward(
    w: dict[str, np.ndarray],
    x: np.ndarray,
    caches: list[dict],
    d_out: np.ndarray,
    direction: str,
    grads: dict[str, np.ndarray],
) -> np.ndarray:
    """BPTT for one direction; accumulates into grads, returns d_x."""
    W = w[f"lstm_{direction}_W"]
    U = w[f"lstm_{direction}_U"]
    B, T, _ = x.shape
    H = U.shape[1]
    d_x = np.zeros_like(x)
    dh = np.zeros((B, H), dtype=x.dtype)
    dc = np.zeros((B, H), dtype=x.dtype)
    dW = grads[f"lstm_{direction}_W"]
    dU = grads[f"lstm_{direction}_U"]
    db = grads[f"lstm_{direction}_b"]
    for cache in reversed(caches):
        t, m = cache["t"], cache["m"]
        i, f, gg, o = cache["i"], cache["f"], cache["gg"], cache["o"]
        c_prev, h_prev, c_new = cache["c_prev"], cache["h_prev"], cache["c_new"]
        # out[:, t] = m * h_new  (h = m*h_new + (1-m)*h_prev, then *m)
        dh_total = dh + m * d_out[:, t, :]
        dh_new = m * dh_total
        dh_carry = (1.0 - m) * dh_total
        dc_new_in = m * dc
        dc_carry = (1.0 - m) * dc
        tanh_c = np.tanh(c_new)
        do = dh_new * tanh_c
        dc_new = dc_new_in + dh_new * o * (1.0 - tanh_c * tanh_c)
        df = dc_new * c_prev
        di = dc_new * gg
        dgg = dc_new * i
        dc = dc_new * f + dc_carry
        dg = np.concatenate(
            [
                di * i * (1.0 - i),
                df * f * (1.0 - f),
                dgg * (1.0 - gg * gg),
                do * o * (1.0 - o),
            ],
            axis=1,
        )  # [B, 4H]
        dW += dg.T @ x[:, t, :]
        dU += dg.T @ h_prev
        db += dg.sum(axis=0)
        d_x[:, t, :] = dg @ W
        dh = dg @ U + dh_carry
    return d_x


def encoder_forward(
    w: dict[str, np.ndarray],
    tokens_batch: list[list[str]],
    vocab: dict[str, int],
    dtype: type = np.float64,
) -> dict:
    """nnmodel's forward (char_row + encode_padded) over one padded batch
    in ``dtype``, keeping the backward caches: returns a cache dict with
    per-sentence (hidden [L, 2h], emissions [L, n_tags]) plus everything
    encoder_backward needs. No length-bucketing — the caller chunks
    batches — so on a length-sorted batch of at most nnmodel.SUB_BATCH
    sentences the float32 result equals nnmodel.encode bit for bit.

    ``dtype``: float64 (default) for finite-difference-grade exactness;
    float32 for the corpus-scale training path (the BPTT matmuls are
    memory-bandwidth-bound on wide arrays; a float32 kernel isolate
    measured 0.887 N->4N scaling efficiency vs float64's 0.81).
    The CRF lattice stays float64 either way (tiny [N_TAGS] arrays;
    log-space stability is worth more than bandwidth there)."""
    w64 = {k: np.asarray(v, dtype=dtype) for k, v in w.items() if k in ENC_PARAMS}
    uniq = sorted({t for toks in tokens_batch for t in toks})
    cache: dict = {
        "w64": w64,
        "tokens_batch": tokens_batch,
        "uniq": uniq,
        "uniq_pos": {t: i for i, t in enumerate(uniq)},
        "char_caches": [],
    }
    char_map = {t: char_row(w64, t, cache["char_caches"]) for t in uniq}
    hid, emis, ids_all = encode_padded(w64, vocab, tokens_batch, char_map, sink=cache)
    lens = [len(t) for t in tokens_batch]
    cache.update(
        lens=lens,
        ids_all=ids_all,
        hid=hid,
        hidden=[hid[bi, :L, :] for bi, L in enumerate(lens)],
        emissions=[
            emis[bi, :L, :] + w64["gaz_emis"][ids_all[bi]] for bi, L in enumerate(lens)
        ],
    )
    return cache


def encoder_backward(
    cache: dict,
    d_hidden: list[np.ndarray],
    d_emissions: list[np.ndarray],
) -> dict[str, np.ndarray]:
    """Backprop per-sentence gradients w.r.t. hidden states and emissions
    down to every ENC_PARAMS array except crf_transitions (whose gradient
    comes straight from crf_nll_grad). Returns a dict of gradient arrays
    shaped like the weights, in the forward's dtype."""
    w64 = cache["w64"]
    emb = w64["word_emb"]
    eW = w64["emit_W"]
    x, mask = cache["x"], cache["mask"]
    B, T, _ = x.shape
    H2 = cache["hid"].shape[2]
    grads = {k: np.zeros_like(w64[k]) for k in ENC_PARAMS}

    # assemble padded [B, T, ...] grads from per-sentence lists
    # (dtype follows the forward: float64 exact path or float32 scale path)
    d_hid = np.zeros((B, T, H2), dtype=x.dtype)
    d_emis = np.zeros((B, T, N_TAGS), dtype=x.dtype)
    for bi, L in enumerate(cache["lens"]):
        if L:
            d_hid[bi, :L, :] += d_hidden[bi]
            d_emis[bi, :L, :] += d_emissions[bi]
            # gaz_emis enters emissions additively per token id
            np.add.at(grads["gaz_emis"], cache["ids_all"][bi], d_emissions[bi])

    # emissions = hid @ eW + eb (+gaz handled above)
    grads["emit_W"] += np.einsum("btk,btn->kn", cache["hid"], d_emis)
    grads["emit_b"] += d_emis.sum(axis=(0, 1))
    d_hid += d_emis @ eW.T

    h = H2 // 2
    d_x_fw = _lstm_backward(w64, x, cache["fw_caches"], d_hid[:, :, :h], "fw", grads)
    d_x_bw = _lstm_backward(w64, x, cache["bw_caches"], d_hid[:, :, h:], "bw", grads)
    d_x = d_x_fw + d_x_bw
    # zero the padding positions (dg is already zero there under the
    # mask-carry forward; this keeps that exact)
    d_x *= mask[:, :, None]

    wdim = emb.shape[1]
    d_char_uniq = np.zeros((len(cache["uniq"]), d_x.shape[2] - wdim), dtype=x.dtype)
    for bi, toks in enumerate(cache["tokens_batch"]):
        L = cache["lens"][bi]
        if not L:
            continue
        np.add.at(grads["word_emb"], cache["ids_all"][bi], d_x[bi, :L, :wdim])
        np.add.at(
            d_char_uniq,
            [cache["uniq_pos"][t] for t in toks],
            d_x[bi, :L, wdim:],
        )

    # char-CNN backward per unique token
    cw = w64["char_conv_W"]
    d = w64["char_emb"].shape[1]
    for ui, cc in enumerate(cache["char_caches"]):
        if cc is None:
            continue
        d_feat = d_char_uniq[ui]  # [c_out]
        if not d_feat.any():
            continue
        L = cc["pre"].shape[0]
        d_conv = np.zeros((L, cw.shape[0]), dtype=x.dtype)
        d_conv[cc["am"], np.arange(cw.shape[0])] = d_feat
        d_pre = d_conv * (cc["pre"] > 0.0)
        grads["char_conv_W"] += d_pre.T @ cc["wins"]
        grads["char_conv_b"] += d_pre.sum(axis=0)
        d_wins = d_pre @ cw  # [L, 3d]
        d_padded = np.zeros((L + 2, d), dtype=x.dtype)
        d_padded[:-2] += d_wins[:, :d]
        d_padded[1:-1] += d_wins[:, d : 2 * d]
        d_padded[2:] += d_wins[:, 2 * d :]
        np.add.at(grads["char_emb"], cc["ids"], d_padded[1:-1])
    return grads


# ---------------------------------------------------------------------------
# minimum-risk training (the reference's EMNLP'18 signature objective,
# `[pub: entrel/train]` unverified — SURVEY.md §0): expected task risk
# over a k-best candidate distribution, approximated deterministically
# (Shen et al. 2016-style k-best MRT: candidates = constrained k-best
# Viterbi paths + the gold path; q_k = softmax(alpha * path scores)
# restricted to the set; risk = 1 - span F1 vs gold). Deterministic
# given the candidate set, so the gradient is finite-difference-checkable
# with the set held fixed — unlike sampled MRT.


def kbest_viterbi(
    emissions: np.ndarray, transitions: np.ndarray, k: int = 5
) -> list[tuple[float, np.ndarray]]:
    """Constrained k-best decode: returns up to k (score, tag_ids) pairs,
    best first. Same BIO constraints and additive-constant handling as
    crf_nll_grad/viterbi; ties break toward the lower source state, then
    the earlier rank (deterministic). Backpointer k-best DP: each (t,
    state, rank) cell stores (score, src_state, src_rank) and the k paths
    are reconstructed once at the end, so per-step work is O(N_TAGS^2 *
    k) with no per-candidate path copies."""
    T = emissions.shape[0]
    if T == 0:
        return []
    em = emissions.astype(np.float64)
    trans, start = constrained_crf(transitions, np.float64)
    # layers[t][state] = up to k (score, src_state, src_rank) best-first;
    # (src_state, src_rank) index layers[t-1]; (-1, -1) marks t=0
    layers: list[list[list[tuple[float, int, int]]]] = [
        [[(float(em[0, s] + start[s]), -1, -1)] for s in range(N_TAGS)]
    ]
    for t in range(1, T):
        prev = layers[-1]
        new_layer: list[list[tuple[float, int, int]]] = []
        for dst in range(N_TAGS):
            cand: list[tuple[float, int, int]] = []
            for src in range(N_TAGS):
                step = trans[src, dst] + em[t, dst]
                for r, (sc, _ps, _pr) in enumerate(prev[src]):
                    cand.append((sc + step, src, r))
            cand.sort(key=lambda x: (-x[0], x[1], x[2]))
            new_layer.append(cand[:k])
        layers.append(new_layer)
    final = [
        (entry[0], s, r)
        for s in range(N_TAGS)
        for r, entry in enumerate(layers[-1][s])
    ]
    final.sort(key=lambda x: (-x[0], x[1], x[2]))
    out: list[tuple[float, np.ndarray]] = []
    for sc, s, r in final[:k]:
        path = np.empty(T, dtype=np.int64)
        st, rk = s, r
        for t in range(T - 1, -1, -1):
            path[t] = st
            _sc, st, rk = layers[t][st][rk]
        out.append((sc, path))
    return out


def _span_f1_risk(
    pred_tags: np.ndarray, gold_spans: list[tuple[int, int, str]]
) -> float:
    """1 - exact-span micro F1 of a tag sequence vs gold spans — the
    task risk MRT minimizes (the CoNLL04-style entity criterion)."""
    pred = set(AntNREModel.spans_from_tags(pred_tags))
    gold = set(gold_spans)
    if not pred and not gold:
        return 0.0
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return 1.0 - f1


def _path_score(
    em: np.ndarray, trans_eff: np.ndarray, start: np.ndarray, tags: np.ndarray
) -> float:
    """Score of one tag path under the constrained CRF (constrained_crf's
    transitions and start row): the CRF NLL's gold term and MRT's
    candidate scores."""
    s = float(em[np.arange(len(tags)), tags].sum() + start[tags[0]])
    if len(tags) > 1:
        s += float(trans_eff[tags[:-1], tags[1:]].sum())
    return s


def mrt_sentence_grad(
    emissions: np.ndarray,
    gold_spans: list[tuple[int, int, str]],
    transitions: np.ndarray,
    k: int = 5,
    alpha: float = 1.0,
    candidates: list[np.ndarray] | None = None,
) -> tuple[float, np.ndarray, np.ndarray, list[np.ndarray]]:
    """Expected risk + exact gradients w.r.t. emissions/transitions for
    ONE sentence over a fixed candidate set.

    L = sum_k q_k * risk_k,  q = softmax(alpha * scores) over the set;
    dL/ds_k = alpha * q_k * (risk_k - L), pushed onto the path one-hots.
    ``candidates`` lets a finite-difference test (and an epoch loop that
    freezes candidates per step) hold the set fixed; by default it is
    the constrained k-best plus the gold path."""
    T = emissions.shape[0]
    if T == 0:
        return 0.0, np.zeros_like(emissions), np.zeros_like(transitions), []
    em = emissions.astype(np.float64)
    trans_eff, start = constrained_crf(transitions, np.float64)
    if candidates is None:
        cands = [tags for _sc, tags in kbest_viterbi(emissions, transitions, k)]
        gold_tags = tags_from_spans(gold_spans, T)
        if not any(np.array_equal(gold_tags, c) for c in cands):
            cands.append(gold_tags)
    else:
        cands = candidates
    scores = np.array([_path_score(em, trans_eff, start, c) for c in cands])
    risks = np.array([_span_f1_risk(c, gold_spans) for c in cands])
    q = _softmax(alpha * scores)
    L = float((q * risks).sum())
    ds = alpha * q * (risks - L)  # [K]
    d_em = np.zeros_like(em)
    d_trans = np.zeros((N_TAGS, N_TAGS), dtype=np.float64)
    for dk, tags in zip(ds, cands):
        d_em[np.arange(T), tags] += dk
        if T > 1:
            np.add.at(d_trans, (tags[:-1], tags[1:]), dk)
    return L, d_em, d_trans, cands


def batch_mrt_grad(
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    sentences: list[dict],
    k: int = 5,
    alpha: float = 1.0,
    dtype: type = np.float64,
) -> tuple[np.ndarray, float, int]:
    """MRT loss/gradient SUMS for one batch: encoder forward, per-sentence
    expected-risk gradients w.r.t. emissions/transitions, one shared
    encoder backward. Same composable-sums contract as batch_loss_grad
    (the Spark layer treats them interchangeably). Returns
    (enc_grad_flat, risk_sum, n_sentences)."""
    cache = encoder_forward(
        weights, [s["tokens"] for s in sentences], vocab, dtype=dtype
    )
    d_hidden = [np.zeros_like(h) for h in cache["hidden"]]
    d_emissions = [np.zeros_like(e) for e in cache["emissions"]]
    trans = np.asarray(weights["crf_transitions"], dtype=np.float64)
    d_trans = np.zeros_like(trans)
    risk_sum, n = 0.0, 0
    for si, sent in enumerate(sentences):
        L = cache["lens"][si]
        if L == 0:
            continue
        r, d_em, d_tr, _c = mrt_sentence_grad(
            cache["emissions"][si], sent["spans"], trans, k=k, alpha=alpha
        )
        risk_sum += r
        n += 1
        d_emissions[si] += d_em
        d_trans += d_tr
    grads = encoder_backward(cache, d_hidden, d_emissions)
    grads["crf_transitions"] = grads["crf_transitions"].astype(np.float64) + d_trans
    return flatten_params(grads, ENC_PARAMS), risk_sum, n


# ---------------------------------------------------------------------------
# F4 GCN type-refinement training


def gcn_grad_loss(
    hidden: np.ndarray,
    spans: list[tuple[int, int, str]],
    rels: dict[tuple[int, int], int],
    w: dict[str, np.ndarray],
) -> tuple[float, dict[str, np.ndarray], np.ndarray, int]:
    """Cross-entropy loss + exact gradients for ONE sentence's GCN type
    head, teacher-forced on the gold mention graph: nnmodel.gcn_forward
    (the forward refine_mention_types runs at inference) over the gold
    spans and symmetric gold relation edges, in float64. Labels = the
    gold entity types, so the head learns to reproduce a mention's type
    FROM its graph neighborhood — the ACL'19 joint-type-inference
    objective (`[pub: joint type inference via GCN]` unverified,
    SURVEY.md §0).

    Returns (loss_sum, {gcn param grads}, d_hidden [L, 2h] — the encoder
    coupling, float64 — and n_nodes). All sums, composable across
    sentences/partitions like every other unit in this module."""
    n = len(spans)
    if n == 0:
        zero_grads = {k: np.zeros(np.shape(w[k])) for k in GCN_PARAMS}
        return 0.0, zero_grads, np.zeros_like(hidden), 0
    w64 = {k: np.asarray(w[k], dtype=np.float64) for k in GCN_PARAMS}
    hid = np.asarray(hidden, dtype=np.float64)
    fwd: dict = {}
    logits = gcn_forward(w64, hid, spans, rels, sink=fwd)  # [n, n_types]
    y = np.array([ENT_TYPES.index(t) for _b, _e, t in spans], dtype=np.int64)

    loss, dlogits = _softmax_xent(logits, y)
    grads = {
        "gcn_type_W": fwd["H"].T @ dlogits,
        "gcn_type_b": dlogits.sum(axis=0),
    }
    dH = dlogits @ w64["gcn_type_W"].T
    dH[fwd["pre"] <= 0.0] = 0.0
    grads["gcn_W"] = fwd["AX"].T @ dH
    dX = fwd["A"].T @ (dH @ w64["gcn_W"].T)  # [n, 2h]

    d_hidden = np.zeros_like(hid)
    for i, (b, e, _t) in enumerate(spans):
        d_hidden[b:e] += dX[i] / (e - b)
    return loss, grads, d_hidden, n


# ---------------------------------------------------------------------------
# joint per-batch loss/grad (the distributed-trainer unit)


def rel_grad_loss_dX(
    X: np.ndarray, y: np.ndarray, rel_w: dict[str, np.ndarray]
) -> tuple[dict[str, np.ndarray], np.ndarray, float]:
    """Softmax cross-entropy SUM over the relation relu-MLP, returning
    parameter grads AND dX (the feature gradient that flows back into the
    encoder for joint training)."""
    W1, b1, W2, b2 = (np.asarray(rel_w[k], dtype=np.float64) for k in REL_PARAMS)
    H = np.maximum(X @ W1 + b1, 0.0)
    logits = H @ W2 + b2
    loss, dlogits = _softmax_xent(logits, y)
    dW2 = H.T @ dlogits
    db2 = dlogits.sum(axis=0)
    dH = dlogits @ W2.T
    dH[H <= 0.0] = 0.0
    dW1 = X.T @ dH
    db1 = dH.sum(axis=0)
    dX = dH @ W1.T
    grads = {"rel_W1": dW1, "rel_b1": db1, "rel_W2": dW2, "rel_b2": db2}
    return grads, dX, loss


def batch_loss_grad(
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    sentences: list[dict],
    rel_weight: float = 0.0,
    gcn_weight: float = 0.0,
    dtype: type = np.float64,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float, float, float, int, int, int]:
    """Loss + gradient SUMS for one batch of gold sentences.

    ``sentences``: dicts with keys tokens (list[str]), spans
    (list[(begin, end, type)]), rels (dict[(subj, obj)] -> rel id).
    ``rel_weight``: 0 trains the mention detector alone (CRF NLL);
    > 0 adds rel_weight x relation cross-entropy over gold-span pairs and
    backprops BOTH losses through the shared encoder — joint training.
    ``gcn_weight``: > 0 additionally trains the F4 GCN type-refinement
    head (gcn_grad_loss) on the gold mention graph, its feature gradient
    also flowing into the shared encoder.
    ``dtype``: encoder forward/backward precision — float64 (exact,
    finite-difference-grade) or float32 (the corpus-scale path; the CRF
    lattice and all loss sums stay float64 regardless).

    Returns (enc_grad_flat, rel_grad_flat, gcn_grad_flat, crf_loss_sum,
    rel_loss_sum, gcn_loss_sum, n_tokens, n_pairs, n_gcn_nodes). All nine
    compose across partitions by addition.
    """
    cache = encoder_forward(
        weights, [s["tokens"] for s in sentences], vocab, dtype=dtype
    )
    d_hidden = [np.zeros_like(h) for h in cache["hidden"]]
    d_emissions = [np.zeros_like(e) for e in cache["emissions"]]
    crf_loss, n_tokens = 0.0, 0
    trans = np.asarray(weights["crf_transitions"], dtype=np.float64)
    d_trans = np.zeros_like(trans)
    # length-bucketed lattice: one batched
    # crf_nll_grad_many per exact sentence length — the per-timestep
    # Python loop amortizes over every same-length sentence in the batch
    by_len: dict[int, list[int]] = {}
    for si, L in enumerate(cache["lens"]):
        if L:
            by_len.setdefault(L, []).append(si)
    for L, idxs in by_len.items():
        em_b = np.stack([cache["emissions"][si] for si in idxs]).astype(np.float64)
        tags_b = np.stack([tags_from_spans(sentences[si]["spans"], L) for si in idxs])
        nll_sum, d_em_b, d_tr = crf_nll_grad_many(em_b, tags_b, trans)
        crf_loss += nll_sum
        n_tokens += L * len(idxs)
        d_trans += d_tr
        for bk, si in enumerate(idxs):
            d_emissions[si] += d_em_b[bk]

    rel_grads = {k: np.zeros(np.shape(weights[k])) for k in REL_PARAMS}
    rel_loss, n_pairs = 0.0, 0
    if rel_weight > 0.0:
        blocks, labels, meta = [], [], []
        for si, sent in enumerate(sentences):
            pairs, X = pair_features(cache["hidden"][si], sent["spans"])
            blocks.append(X)
            for i, j, lo, hi in pairs:
                labels.append(sent["rels"].get((i, j), 0))
                meta.append((si, i, j, lo, hi))
        if meta:
            X = np.concatenate(blocks)
            y = np.asarray(labels, dtype=np.int64)
            rg, dX, rl = rel_grad_loss_dX(X, y, weights)
            rel_loss = rl
            n_pairs = len(y)
            for k in REL_PARAMS:
                rel_grads[k] += rel_weight * rg[k]
            dX = rel_weight * dX
            h2 = cache["hidden"][0].shape[1] if cache["hidden"] else 0
            for row, (si, i, j, lo, hi) in enumerate(meta):
                spans = sentences[si]["spans"]
                bi, ei, _ = spans[i]
                bj, ej, _ = spans[j]
                d_hidden[si][bi:ei] += dX[row, :h2] / (ei - bi)
                d_hidden[si][bj:ej] += dX[row, h2 : 2 * h2] / (ej - bj)
                if hi > lo:
                    d_hidden[si][lo:hi] += dX[row, 2 * h2 :] / (hi - lo)

    gcn_grads = {
        k: np.zeros(np.shape(weights[k]) if k in weights else 0) for k in GCN_PARAMS
    }
    gcn_loss, n_nodes = 0.0, 0
    if gcn_weight > 0.0:
        for si, sent in enumerate(sentences):
            if not sent["spans"] or cache["lens"][si] == 0:
                continue
            gl, gg, dh, nn = gcn_grad_loss(
                cache["hidden"][si], sent["spans"], sent["rels"], weights
            )
            gcn_loss += gl
            n_nodes += nn
            for k in GCN_PARAMS:
                gcn_grads[k] += gcn_weight * gg[k]
            d_hidden[si] += gcn_weight * dh

    grads = encoder_backward(cache, d_hidden, d_emissions)
    grads["crf_transitions"] = grads["crf_transitions"].astype(np.float64) + d_trans
    return (
        flatten_params(grads, ENC_PARAMS),
        flatten_params(rel_grads, REL_PARAMS),
        flatten_params(gcn_grads, GCN_PARAMS),  # empty without gcn_* weights
        crf_loss, rel_weight * rel_loss, gcn_weight * gcn_loss,
        n_tokens, n_pairs, n_nodes,
    )
