"""Pure-numpy joint entity-relation extraction model (NO pyspark imports).

Re-expresses what the reference computes — a BiLSTM-CRF-style span/mention
detector and a span-pair relation classifier (BASELINE.json:6; SURVEY.md
§2.E/§2.F, `[pub: antNRE/src/*]` unverified) — as a deterministic numpy
forward pass. The fixture weights (fixtures/gen_weights.py, SURVEY.md §5.4)
are seeded random inits plus gazetteer/trigger-lexicon emission nudges so
the tiny model discriminates the fixture vocabulary.

The forward math has one home: the module-level functions ``char_row``,
``lstm_dir``, ``encode_padded``, ``crf_lattice`` and ``pair_features``
take a weight dict and compute in its dtype. ``AntNREModel`` runs them in
float32 for inference; the trainer (encoder_grad.py, train.py) runs the
same functions in float64 or float32, passing a ``sink`` where it needs
the backward caches.

This module is imported BOTH by the Spark extraction stage (inside
mapInPandas workers) and by the single-process oracle
(oracle/antnre_oracle.py), so the two run bit-identical math — parity then
tests exactly what BASELINE.json:14 means: that the distributed run
reproduces the reference model's per-sentence decisions across shuffles,
batching, and partitioning.

Determinism properties relied on by the test suite (SURVEY.md §7.3.2):
- per-sentence outputs are batch-composition invariant: the LSTM recursion
  masks padding (state carries through pad steps), matmul rows are
  independent, and all decision margins are >=1.0 by construction, far above
  float32 noise;
- all tie-breaks are explicit (lowest tag id in Viterbi; first-by-position
  span order; lowest relation id on logit ties via argmax).
"""

from __future__ import annotations

import json
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np

ENT_TYPES = ["Peop", "Org", "Loc", "Other"]
REL_TYPES = ["None", "Work_For", "Live_In", "Located_In", "OrgBased_In", "Kill"]
TAGS = ["O"] + [f"{p}-{t}" for t in ENT_TYPES for p in ("B", "I")]
# TAGS = [O, B-Peop, I-Peop, B-Org, I-Org, B-Loc, I-Loc, B-Other, I-Other]
N_TAGS = len(TAGS)
N_RELS = len(REL_TYPES)
PAD_ID, UNK_ID = 0, 1
NEG = -1.0e4

# type-pair relation validity (CoNLL04 semantics, SURVEY.md §5.3): a
# relation logit is masked unless its argument types are admissible.
_VALID_PAIRS = {
    "Work_For": [("Peop", "Org")],
    "Live_In": [("Peop", "Loc")],
    "Located_In": [("Loc", "Loc")],
    "OrgBased_In": [("Org", "Loc")],
    "Kill": [("Peop", "Peop")],
}
# [n_ent_types, n_ent_types, n_rels] — 0 where valid (None always valid)
REL_VALIDITY = np.full((len(ENT_TYPES), len(ENT_TYPES), N_RELS), NEG, dtype=np.float32)
REL_VALIDITY[:, :, 0] = 0.0
for _rel, _pairs in _VALID_PAIRS.items():
    for _s, _o in _pairs:
        REL_VALIDITY[ENT_TYPES.index(_s), ENT_TYPES.index(_o), REL_TYPES.index(_rel)] = 0.0

MAX_MENTIONS_PER_SENT = 12  # candidate-pair cap (SURVEY.md §4.2)
GCN_KEEP_MARGIN = 2.0  # F4: decoded type keeps this head start vs the GCN
MAX_PAIR_DISTANCE = 25  # token-distance cap for candidate pairs
MAX_TOKEN_LEN = 20  # char-CNN truncation
N_CHAR_BUCKETS = 96
SUB_BATCH = 256  # length-bucketed sub-batch size (SURVEY.md §4.2)


@dataclass(frozen=True)
class Mention:
    begin: int
    end: int  # token offsets, end exclusive
    ent_type: str
    conf: float


@dataclass(frozen=True)
class Relation:
    subj: int  # index into the sentence's mention list
    obj: int
    pred: str
    conf: float


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def _mean0(seg: np.ndarray) -> np.ndarray:
    """Bit-exact ``seg.mean(axis=0)`` for 2-D float segments without the
    per-call dispatch overhead: numpy's _mean is exactly
    ``umr_sum(arr, axis)`` followed by ``true_divide(ret, count,
    out=ret, casting='unsafe')`` — reproduced verbatim, so values are
    identical to the last bit (same pairwise reduction, same in-place
    divide that keeps float32 float32)."""
    s = np.add.reduce(seg, axis=0)
    return np.true_divide(s, seg.shape[0], out=s, casting="unsafe")


def _softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x - x.max(axis=axis, keepdims=True)
    e = np.exp(m)
    return e / e.sum(axis=axis, keepdims=True)


def _crf_constraints() -> np.ndarray:
    """BIO validity mask added to the transition matrix: disallow O->I-x,
    B-x->I-y (x != y), I-x->I-y (x != y)."""
    mask = np.zeros((N_TAGS, N_TAGS), dtype=np.float32)
    for i, src in enumerate(TAGS):
        for j, dst in enumerate(TAGS):
            if not dst.startswith("I-"):
                continue
            need = dst[2:]
            ok = (src == f"B-{need}") or (src == f"I-{need}")
            if not ok:
                mask[i, j] = NEG
    return mask


CRF_CONSTRAINTS = _crf_constraints()
START_CONSTRAINTS = np.array(
    [NEG if t.startswith("I-") else 0.0 for t in TAGS], dtype=np.float32
)


def constrained_crf(
    transitions: np.ndarray, dtype: type = np.float32
) -> tuple[np.ndarray, np.ndarray]:
    """(transitions + CRF_CONSTRAINTS, START_CONSTRAINTS) in ``dtype``: the
    constrained CRF every decoder, lattice and training loss scores tag
    paths under (float32 to decode, float64 for lattices and losses)."""
    trans = np.asarray(transitions, dtype=dtype) + CRF_CONSTRAINTS.astype(dtype)
    return trans, START_CONSTRAINTS.astype(dtype)


# ---- forward functions shared by inference and training -----------------


def char_row(
    w: dict[str, np.ndarray], tok: str, sink: list | None = None
) -> np.ndarray:
    """Char-CNN feature row of one token: embed -> width-3 conv -> relu ->
    maxpool (the reference's char-CNN word encoder,
    `[pub: word_encoder.py]`). An empty token (whitespace-only turn text
    tokenizes to [""]) gets a zero row instead of a zero-size maxpool.
    ``sink``: append the backward cache (None for an empty token)."""
    ce, cw, cb = w["char_emb"], w["char_conv_W"], w["char_conv_b"]
    s = tok.lower()[:MAX_TOKEN_LEN]
    ids = np.frombuffer(s.encode("utf-8", "replace"), dtype=np.uint8)
    ids = ids.astype(np.int64) % N_CHAR_BUCKETS
    if len(ids) == 0:
        if sink is not None:
            sink.append(None)
        return np.zeros(cw.shape[0], dtype=ce.dtype)
    pad = np.zeros((1, ce.shape[1]), dtype=ce.dtype)
    padded = np.vstack([pad, ce[ids], pad])
    wins = np.concatenate([padded[:-2], padded[1:-1], padded[2:]], axis=1)  # [L, 3d]
    pre = wins @ cw.T + cb  # [L, c_out]
    conv = np.maximum(pre, 0.0)
    if sink is not None:
        sink.append({"ids": ids, "wins": wins, "pre": pre, "am": conv.argmax(axis=0)})
    return conv.max(axis=0)


def lstm_dir(
    w: dict[str, np.ndarray],
    x: np.ndarray,
    mask: np.ndarray,
    direction: str,
    sink: list | None = None,
) -> np.ndarray:
    """Masked LSTM over padded batch [B, T, in] -> [B, T, h].

    Pad steps carry state through unchanged, so each row's outputs are
    independent of pad length and of the other rows in the batch.
    ``sink``: append one backward cache per step, in step order.
    """
    W = w[f"lstm_{direction}_W"]  # [4h, in]
    U = w[f"lstm_{direction}_U"]  # [4h, h]
    b = w[f"lstm_{direction}_b"]  # [4h]
    B, T, _ = x.shape
    H = U.shape[1]
    h = np.zeros((B, H), dtype=x.dtype)
    c = np.zeros((B, H), dtype=x.dtype)
    out = np.zeros((B, T, H), dtype=x.dtype)
    steps = range(T) if direction == "fw" else range(T - 1, -1, -1)
    for t in steps:
        g = x[:, t, :] @ W.T + h @ U.T + b  # [B, 4h]
        i = _sigmoid(g[:, :H])
        f = _sigmoid(g[:, H : 2 * H])
        gg = np.tanh(g[:, 2 * H : 3 * H])
        o = _sigmoid(g[:, 3 * H :])
        c_new = f * c + i * gg
        h_new = o * np.tanh(c_new)
        m = mask[:, t : t + 1]
        if sink is not None:
            sink.append(
                {"t": t, "i": i, "f": f, "gg": gg, "o": o,
                 "c_prev": c, "h_prev": h, "c_new": c_new, "m": m}
            )
        c = m * c_new + (1.0 - m) * c
        h = m * h_new + (1.0 - m) * h
        out[:, t, :] = h * m
    return out


def encode_padded(
    w: dict[str, np.ndarray],
    vocab: dict[str, int],
    tokens_batch: list[list[str]],
    char_map: dict[str, np.ndarray],
    sink: dict | None = None,
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """One padded BiLSTM forward over a batch of sentences: returns
    (hid [B, T, 2h], emissions [B, T, n_tags] WITHOUT the per-token
    gaz_emis term, per-sentence token-id arrays). ``char_map`` maps every
    token of the batch to its char_row. ``sink``: a dict that receives the
    padded input ``x``, ``mask`` and the per-direction step caches
    ``fw_caches`` / ``bw_caches``."""
    emb, eW, eb = w["word_emb"], w["emit_W"], w["emit_b"]
    wdim = emb.shape[1]
    B = len(tokens_batch)
    T = max((len(t) for t in tokens_batch), default=0)
    x = np.zeros((B, T, wdim + w["char_conv_W"].shape[0]), dtype=emb.dtype)
    mask = np.zeros((B, T), dtype=emb.dtype)
    ids_all = []
    for bi, toks in enumerate(tokens_batch):
        ids = np.array([vocab.get(t.lower(), UNK_ID) for t in toks], dtype=np.int64)
        ids_all.append(ids)
        mask[bi, : len(toks)] = 1.0
        x[bi, : len(toks), :wdim] = emb[ids]
        for p, t in enumerate(toks):
            x[bi, p, wdim:] = char_map[t]
    fw_sink = bw_sink = None
    if sink is not None:
        fw_sink, bw_sink = [], []
        sink.update(x=x, mask=mask, fw_caches=fw_sink, bw_caches=bw_sink)
    fw = lstm_dir(w, x, mask, "fw", fw_sink)
    bw = lstm_dir(w, x, mask, "bw", bw_sink)
    hid = np.concatenate([fw, bw], axis=2)  # [B, T, 2h]
    return hid, hid @ eW + eb, ids_all


def crf_lattice(em: np.ndarray, trans: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Log-space forward (alpha) and backward (beta) lattices [T, n_tags]
    of the CONSTRAINED CRF, for float64 emissions [T, n_tags] (T >= 1)
    and a transition matrix that already includes CRF_CONSTRAINTS;
    START_CONSTRAINTS enter alpha[0]. logsumexp(alpha[-1]) is the
    log-partition and alpha + beta the unnormalized log-marginals."""
    T = em.shape[0]
    alpha = np.zeros((T, N_TAGS), dtype=np.float64)
    alpha[0] = em[0] + START_CONSTRAINTS
    for t in range(1, T):
        prev = alpha[t - 1][:, None] + trans
        m = prev.max(axis=0)
        alpha[t] = m + np.log(np.exp(prev - m).sum(axis=0)) + em[t]
    beta = np.zeros((T, N_TAGS), dtype=np.float64)
    for t in range(T - 2, -1, -1):
        nxt = trans + em[t + 1][None, :] + beta[t + 1][None, :]
        m = nxt.max(axis=1)
        beta[t] = m + np.log(np.exp(nxt - m[:, None]).sum(axis=1))
    return alpha, beta


def pair_features(
    hidden: np.ndarray, spans: list
) -> tuple[list[tuple[int, int, int, int]], np.ndarray]:
    """Admissible ordered span pairs of one sentence and their relation
    features. ``spans``: (begin, end, ...) tuples, end exclusive. A pair
    (i, j), i != j, is admissible when the begins lie within
    MAX_PAIR_DISTANCE tokens; its feature row is subj_mean ⊕ obj_mean ⊕
    between_mean over ``hidden`` (zeros when the between segment
    [lo, hi) is empty), in hidden's dtype. Returns (pairs [(i, j, lo,
    hi)], X [P, 6h]). The between mean is memoized by (lo, hi): the
    (i, j)/(j, i) orderings share the identical segment, so this halves
    the mean reductions with bit-identical output."""
    span_vecs = [_mean0(hidden[s[0] : s[1]]) for s in spans]
    zeros = np.zeros(hidden.shape[1], dtype=hidden.dtype)
    pairs: list[tuple[int, int, int, int]] = []
    feats: list[np.ndarray] = []
    between_cache: dict[tuple[int, int], np.ndarray] = {}
    for i, si in enumerate(spans):
        for j, sj in enumerate(spans):
            if i == j or abs(si[0] - sj[0]) > MAX_PAIR_DISTANCE:
                continue
            lo, hi = min(si[1], sj[1]), max(si[0], sj[0])
            between_vec = between_cache.get((lo, hi))
            if between_vec is None:
                between_vec = _mean0(hidden[lo:hi]) if hi > lo else zeros
                between_cache[(lo, hi)] = between_vec
            pairs.append((i, j, lo, hi))
            feats.append(np.concatenate([span_vecs[i], span_vecs[j], between_vec]))
    X = np.stack(feats) if feats else np.zeros((0, 3 * hidden.shape[1]), hidden.dtype)
    return pairs, X


def gcn_forward(
    w: dict[str, np.ndarray],
    hidden: np.ndarray,
    spans: list,
    edges,
    sink: dict | None = None,
) -> np.ndarray:
    """F4 GCN type logits [n, n_types] of one sentence's mention graph, in
    hidden's dtype: one message-passing round with nodes = span-mean
    hidden states (``spans``: (begin, end, ...) tuples, n >= 1), adjacency
    = the symmetric ``edges`` ((i, j) node pairs) plus self-loops,
    row-normalized, then relu(A X W) Wt + b. ``sink``: a dict that
    receives ``A``, ``AX``, ``pre`` (= A X W) and ``H`` for the backward."""
    n = len(spans)
    X = np.stack([_mean0(hidden[s[0] : s[1]]) for s in spans])  # [n, 2h]
    A = np.eye(n, dtype=hidden.dtype)
    for i, j in edges:
        A[i, j] = A[j, i] = 1.0
    A /= A.sum(axis=1, keepdims=True)
    AX = A @ X
    pre = AX @ w["gcn_W"]
    H = np.maximum(pre, 0.0)
    if sink is not None:
        sink.update(A=A, AX=AX, pre=pre, H=H)
    return H @ w["gcn_type_W"] + w["gcn_type_b"]


class AntNREModel:
    """Joint NER+RE model over whitespace tokens: the float32 inference
    entry points over the shared forward functions above."""

    #: char-feature cache bound — ~200k tokens x c_out float32 stays tens
    #: of MB; past it each insert evicts the oldest entry
    CHAR_CACHE_MAX = 200_000

    def __init__(self, weights: dict[str, np.ndarray], vocab: dict[str, int]):
        self.w = {k: np.asarray(v, dtype=np.float32) for k, v in weights.items()}
        self.vocab = vocab
        # memoized char-CNN rows (pure per-token function; the model
        # instance lives for the worker's life, so repeated tokens across
        # Arrow batches skip the conv entirely — bit-identical rows)
        self._char_cache: OrderedDict[str, np.ndarray] = OrderedDict()

    @classmethod
    def from_files(cls, npz_path: str, vocab_path: str) -> "AntNREModel":
        with np.load(npz_path) as z:
            weights = {k: z[k] for k in z.files}
        with open(vocab_path) as f:
            vocab = json.load(f)
        return cls(weights, vocab)

    # ---- encoding -------------------------------------------------------

    def _token_ids(self, tokens: list[str]) -> np.ndarray:
        """Reference for the token ids encode_padded computes."""
        v = self.vocab
        return np.array([v.get(t.lower(), UNK_ID) for t in tokens], dtype=np.int64)

    def _char_feats(self, unique_tokens: list[str]) -> np.ndarray:
        """char_row per unique token, memoized in _char_cache (at most
        CHAR_CACHE_MAX entries, oldest evicted first)."""
        cache = self._char_cache
        c_out = self.w["char_conv_W"].shape[0]
        out = np.zeros((len(unique_tokens), c_out), dtype=np.float32)
        for i, tok in enumerate(unique_tokens):
            hit = cache.get(tok)
            if hit is None:
                if len(cache) >= self.CHAR_CACHE_MAX:
                    # OrderedDict: O(1) oldest-first eviction, where
                    # del d[next(iter(d))] on a plain dict rescans the
                    # deleted slots at the front on every call
                    cache.popitem(last=False)
                hit = cache[tok] = char_row(self.w, tok)
            out[i] = hit
        return out

    def encode(self, tokens_batch: list[list[str]]) -> list[tuple[np.ndarray, np.ndarray]]:
        """Return per sentence (hidden [T, 2h], emissions [T, n_tags]).

        Sentences are length-bucketed into sub-batches (sorted by length,
        chunks of SUB_BATCH) to bound padding waste — the Spark-era
        equivalent of the reference's length-bucketed minibatches
        (SURVEY.md §4.2) — then results are restored to input order.
        """
        return self._encode_full(tokens_batch)[0]

    def _encode_full(
        self, tokens_batch: list[list[str]]
    ) -> tuple[list[tuple[np.ndarray, np.ndarray]], list[np.ndarray]]:
        """encode() plus the per-sentence token-id arrays it already
        computes — extract() reuses them for the relation trigger lookup
        instead of re-tokenizing every sentence."""
        n = len(tokens_batch)
        results: list = [None] * n
        ids_out: list = [None] * n
        order = sorted(range(n), key=lambda i: (len(tokens_batch[i]), i))
        # char features once per unique token in the whole call
        uniq = sorted({t for toks in tokens_batch for t in toks})
        char_map = {t: f for t, f in zip(uniq, self._char_feats(uniq))}
        gaz = self.w["gaz_emis"]
        for s in range(0, n, SUB_BATCH):
            idxs = order[s : s + SUB_BATCH]
            hid, emis, ids_all = encode_padded(
                self.w, self.vocab, [tokens_batch[i] for i in idxs], char_map
            )
            for bi, i in enumerate(idxs):
                L = len(tokens_batch[i])
                ids_out[i] = ids_all[bi]
                e = emis[bi, :L, :] + gaz[ids_all[bi]]
                results[i] = (hid[bi, :L, :], e)
        return results, ids_out

    # ---- CRF decode + spans --------------------------------------------

    def viterbi(self, emissions: np.ndarray) -> np.ndarray:
        """CRF Viterbi decode with BIO constraints; ties -> lowest tag id
        (np.argmax's first-max rule). `[pub: seq_decoder.py]` semantics."""
        trans, start = constrained_crf(self.w["crf_transitions"])
        T = emissions.shape[0]
        if T == 0:
            return np.zeros(0, dtype=np.int64)
        score = emissions[0] + start
        back = np.zeros((T, N_TAGS), dtype=np.int64)
        for t in range(1, T):
            cand = score[:, None] + trans  # [src, dst]
            back[t] = cand.argmax(axis=0)
            score = cand.max(axis=0) + emissions[t]
        tags = np.zeros(T, dtype=np.int64)
        tags[-1] = int(score.argmax())
        for t in range(T - 1, 0, -1):
            tags[t - 1] = back[t, tags[t]]
        return tags

    def viterbi_many(self, emissions: np.ndarray) -> np.ndarray:
        """Batched Viterbi over same-length sentences [B, T, n_tags] ->
        [B, T]. Element-for-element the same recurrence, max, and
        first-max tie-break as ``viterbi`` (asserted equal in
        tests/test_nnmodel.py); one python loop over T replaces B of them.
        """
        trans, start = constrained_crf(self.w["crf_transitions"])
        B, T, _ = emissions.shape
        if T == 0:
            return np.zeros((B, 0), dtype=np.int64)
        score = emissions[:, 0] + start  # [B, n]
        back = np.zeros((B, T, N_TAGS), dtype=np.int64)
        for t in range(1, T):
            cand = score[:, :, None] + trans[None]  # [B, src, dst]
            back[:, t] = cand.argmax(axis=1)
            score = cand.max(axis=1) + emissions[:, t]
        tags = np.zeros((B, T), dtype=np.int64)
        tags[:, -1] = score.argmax(axis=1)
        rows = np.arange(B)
        for t in range(T - 1, 0, -1):
            tags[:, t - 1] = back[rows, t, tags[:, t]]
        return tags

    def tag_marginals(self, emissions: np.ndarray) -> np.ndarray:
        """Posterior unary marginals P(tag_t = k | sentence) of the
        CONSTRAINED CRF (same transition matrix + BIO constraints Viterbi
        decodes with), via the forward-backward algorithm in log space.
        Rows sum to 1. This is the exact quantity E5's decoded-path
        softmax heuristic approximates; with it, mention confidence
        becomes a true probability under the sequence model. The
        lattice is crf_lattice, shared with the CRF training NLL
        (encoder_grad.crf_nll_grad)."""
        if emissions.shape[0] == 0:
            return np.zeros((0, N_TAGS), dtype=np.float64)
        trans, _start = constrained_crf(self.w["crf_transitions"], np.float64)
        alpha, beta = crf_lattice(emissions.astype(np.float64), trans)
        logp = alpha + beta
        logp -= logp.max(axis=1, keepdims=True)
        p = np.exp(logp)
        return p / p.sum(axis=1, keepdims=True)

    @staticmethod
    def spans_from_tags(tag_ids: np.ndarray) -> list[tuple[int, int, str]]:
        """BIO tag sequence -> (begin, end, type) spans, first-by-position.
        (`[pub: ent_span_generator.py]`; the SQL-expressible window mirror
        of this scan is tested as operator E4 — see __spark_entry__.py.)"""
        spans: list[tuple[int, int, str]] = []
        start, cur = -1, None
        for i, tid in enumerate(list(tag_ids) + [0]):
            tag = TAGS[int(tid)] if tid < N_TAGS else "O"
            if tag.startswith("B-"):
                if cur is not None:
                    spans.append((start, i, cur))
                start, cur = i, tag[2:]
            elif tag.startswith("I-") and cur == tag[2:]:
                continue
            else:
                if cur is not None:
                    spans.append((start, i, cur))
                start, cur = -1, None
        return spans

    def extract_mentions(
        self,
        hidden: np.ndarray,
        emissions: np.ndarray,
        tag_ids: np.ndarray | None = None,
        conf_mode: str = "local",
    ) -> list[Mention]:
        """``conf_mode``: 'local' (default — per-position emission
        softmax averaged over the decoded span; the golden-output/parity
        definition, frozen) or 'marginal' (mean CRF posterior
        marginal of the decoded tags over the span, tag_marginals: a
        true sequence-model probability that accounts for transition
        structure, e.g. an I-tag stranded after a weak B gets marked
        down even when its emission is confident). Decoded spans are
        IDENTICAL between modes; only conf differs."""
        if tag_ids is None:
            tag_ids = self.viterbi(emissions)
        if conf_mode == "marginal":
            probs = self.tag_marginals(emissions)
        elif conf_mode == "local":
            probs = _softmax(emissions, axis=1)
        else:  # reject typos loudly — a silent fallthrough to 'local'
            # would run a whole distributed job on the wrong quantity
            raise ValueError(
                f"unknown conf_mode {conf_mode!r}; use 'local' or 'marginal'"
            )
        mentions = []
        for b, e, t in self.spans_from_tags(tag_ids):
            conf = float(np.round(probs[np.arange(b, e), tag_ids[b:e]].mean(), 6))
            mentions.append(Mention(b, e, t, conf))
        return mentions[:MAX_MENTIONS_PER_SENT]

    # ---- relation classification ---------------------------------------

    def classify_relations(
        self,
        hidden: np.ndarray,
        token_ids: np.ndarray,
        mentions: list[Mention],
    ) -> list[Relation]:
        """Span-pair MLP over (subj_mean ⊕ obj_mean ⊕ between_mean) with
        trigger-lexicon and type-pair nudges; emit argmax != None.
        (`[pub: rel_feat_extractor.py, rel_decoder.py]` semantics.)"""
        if len(mentions) < 2:
            return []
        W1, b1 = self.w["rel_W1"], self.w["rel_b1"]
        W2, b2 = self.w["rel_W2"], self.w["rel_b2"]
        pair_bias = self.w["rel_pair_bias"]  # [4, 4, n_rels]
        trig = self.w["rel_trig"]  # [V, n_rels]
        # admissible ordered pairs, then ONE batched MLP matmul —
        # per-pair matvecs were the hottest python loop in the whole model
        pairs, X = pair_features(hidden, [(m.begin, m.end) for m in mentions])
        if not pairs:
            return []
        logits_all = np.maximum(X @ W1 + b1, 0.0) @ W2 + b2  # [P, n_rels]
        # (probe, rejected: vectorizing this post-logits loop across
        # pairs measured as a wash — bench sentences carry only a few
        # admissible pairs each, so the numpy setup cost equals the loop
        # it replaced. Kept the simpler per-row form.)
        out: list[Relation] = []
        trig_cache: dict[tuple[int, int], np.ndarray] = {}
        for (i, j, lo, hi), logits in zip(pairs, logits_all):
            mi, mj = mentions[i], mentions[j]
            ti = ENT_TYPES.index(mi.ent_type)
            tj = ENT_TYPES.index(mj.ent_type)
            logits = logits + pair_bias[ti, tj] + REL_VALIDITY[ti, tj]
            trig_sum = trig_cache.get((lo, hi))
            if trig_sum is None:
                trig_sum = (
                    trig[token_ids[lo:hi]].sum(axis=0)
                    if hi > lo
                    else np.zeros(N_RELS, dtype=np.float32)
                )
                trig_cache[(lo, hi)] = trig_sum
            trig_sum = np.where(REL_VALIDITY[ti, tj] < 0, 0.0, trig_sum)
            if trig_sum[1:].max(initial=0.0) <= 0.0:
                logits[0] += 6.0  # no admissible trigger between -> None
            logits = logits + trig_sum
            if mi.begin > mj.begin:
                logits[0] += 8.0  # prefer textual-order (subj first)
            k = int(logits.argmax())
            if k != 0:
                conf = float(np.round(_softmax(logits)[k], 6))
                out.append(Relation(i, j, REL_TYPES[k], conf))
        return out

    # ---- F4: GCN joint type refinement -----------------------------------

    def refine_mention_types(
        self,
        hidden: np.ndarray,
        mentions: list[Mention],
        relations: list[Relation],
    ) -> tuple[list[Mention], list[Relation]]:
        """F4: gcn_forward over the per-sentence mention graph (nodes =
        mentions, edges = predicted relations) jointly refines entity
        types (SURVEY.md §2.F, the ACL'19-style joint variant;
        `[pub: joint_model.py]` unverified). Graphs have <=
        MAX_MENTIONS_PER_SENT nodes, so this is plain in-UDF numpy inside
        the same mapInPandas batch: no graph machinery, no shuffle.

        The decoded type gets GCN_KEEP_MARGIN as a head start; the GCN can
        flip a type only on strong graph evidence (with the untrained
        fixture weights it essentially never does — arbitrary-but-fixed,
        which is what the parity criterion needs). Relations whose
        (refined subj, refined obj) type pair is no longer admissible are
        dropped — the 'joint' coupling between the two tasks.
        """
        if not mentions or "gcn_W" not in self.w:
            return mentions, relations
        spans = [(m.begin, m.end) for m in mentions]
        edges = [(r.subj, r.obj) for r in relations]
        logits = gcn_forward(self.w, hidden, spans, edges)  # [n, types]
        refined: list[Mention] = []
        for i, m in enumerate(mentions):
            li = logits[i].copy()
            li[ENT_TYPES.index(m.ent_type)] += GCN_KEEP_MARGIN
            t = ENT_TYPES[int(li.argmax())]
            refined.append(
                m if t == m.ent_type else Mention(m.begin, m.end, t, m.conf)
            )
        kept = [
            r
            for r in relations
            if REL_VALIDITY[
                ENT_TYPES.index(refined[r.subj].ent_type),
                ENT_TYPES.index(refined[r.obj].ent_type),
                REL_TYPES.index(r.pred),
            ]
            >= 0.0
        ]
        return refined, kept

    # ---- fused entry ----------------------------------------------------

    def extract(
        self,
        tokens_batch: list[list[str]],
        refine_types: bool = False,
        conf_mode: str = "local",
    ) -> list[tuple[list[Mention], list[Relation]]]:
        """One forward pass per sentence -> (mentions, relations). This is
        the unit the Spark mapInPandas stage and the oracle both call.
        ``refine_types`` switches on the F4 GCN joint refinement pass;
        ``conf_mode='marginal'`` switches mention confidence to the CRF
        posterior marginal (see extract_mentions)."""
        encoded, tok_ids = self._encode_full(tokens_batch)
        # batched Viterbi per exact-length group: one T-loop per length
        # instead of one per sentence (same recurrence, see viterbi_many)
        tags_all: list = [None] * len(tokens_batch)
        groups: dict[int, list[int]] = {}
        for i, (_h, e) in enumerate(encoded):
            groups.setdefault(e.shape[0], []).append(i)
        for idxs in groups.values():
            tags = self.viterbi_many(np.stack([encoded[i][1] for i in idxs]))
            for k, i in enumerate(idxs):
                tags_all[i] = tags[k]
        results = []
        for i, (toks, (hidden, emissions)) in enumerate(
            zip(tokens_batch, encoded)
        ):
            mentions = self.extract_mentions(
                hidden, emissions, tags_all[i], conf_mode=conf_mode
            )
            rels = self.classify_relations(hidden, tok_ids[i], mentions)
            if refine_types:
                mentions, rels = self.refine_mention_types(hidden, mentions, rels)
            results.append((mentions, rels))
        return results
