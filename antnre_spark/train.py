"""Distributed training of the joint model over gold annotations
(fixtures/gen_transcripts gold: tokens + ent_spans + relations). Every
trainer runs nnmodel's forward — the same char-CNN, BiLSTM, CRF lattice
and pair features the extractor serves — with the losses and backward
passes of antnre_spark/encoder_grad.py.

Relation decoder (``pair_training_frame`` + ``fit_relation_decoder``):
supervised training of the span-pair MLP (rel_W1/b1/W2/b2) over FROZEN
encoder features. The encoder stays fixed — so feature extraction is a
one-time distributed pass, and each training epoch touches only the
compact pair-feature table. The additive inference-time priors
(pair_bias / validity mask / trigger lexicon / order preference) are NOT
trained: they are priors applied on top of the learned logits, exactly
as in nnmodel.classify_relations. Execution model (classic synchronous
data-parallel SGD — public pattern):

  1. ``pair_training_frame``: one Arrow-batched mapInPandas over gold
     sentences — encode (frozen BiLSTM), nnmodel.pair_features over the
     gold spans, label each admissible ordered pair with its gold
     relation id (0 = None). Distributed, narrow, runs once; cache the
     output.
  2. ``fit_relation_decoder``: per epoch, broadcast the current
     weights; every partition computes its LOCAL gradient/loss sums
     (map-side combine — one output row per Arrow batch, each a flat
     float64 gradient vector of ~12.7k entries); the driver sums the
     partial rows (a bounded collect: n_batches x ~100 KB) and applies
     a full-batch gradient step. This is the parameter-server-free
     all-reduce shape that scales to any executor count: gradients,
     never features, cross the wire.

Mention detector / joint model (``fit_joint``, ``fit_mrt``): the same
all-reduce shape over encoder_grad.batch_loss_grad / batch_mrt_grad.

Gradient correctness is pinned by finite-difference tests; learning is
pinned by loss-decreases + accuracy tests from random init on the
fixture gold (tests/test_train.py, tests/test_train_encoder.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from antnre_spark.encoder_grad import (
    ENC_PARAMS,
    GCN_PARAMS,
    REL_PARAMS,
    batch_loss_grad,
    batch_mrt_grad,
    flatten_params,
    rel_grad_loss_dX,
    unflatten_params,
)
from antnre_spark.extract import TOKEN_BUDGET, _budget_bounds, _model_for
from antnre_spark.nnmodel import REL_TYPES, AntNREModel, pair_features

PAIR_SCHEMA = "feat array<double>, label int"
GRAD_SCHEMA = "grad array<double>, loss double, n long"


def _gold_pairs(
    model: AntNREModel, pdf: pd.DataFrame
) -> Iterator[tuple[int, int, int, int, np.ndarray]]:
    """(row, subj, obj, label, feat) for every admissible ordered gold-span
    pair of one Arrow batch of gold rows: ONE batched encoder forward per
    token-budget chunk (the batching discipline of inference), then
    nnmodel.pair_features over each sentence's gold spans."""
    sents = sentences_from_gold_rows(pdf.to_dict("records"))
    toks_all = [s["tokens"] for s in sents]
    encoded: list = []
    for lo, hi in _budget_bounds([len(t) for t in toks_all], TOKEN_BUDGET):
        encoded.extend(model.encode(toks_all[lo:hi]))
    for row, ((hidden, _emis), s) in enumerate(zip(encoded, sents)):
        pairs, X = pair_features(hidden, s["spans"])
        for (i, j, _lo, _hi), feat in zip(pairs, X):
            yield row, i, j, s["rels"].get((i, j), 0), feat


def pair_training_frame(
    gold: DataFrame, weights_bc, vocab_bc, model_key: str = "default"
) -> DataFrame:
    """gold(tokens, ent_spans, relations) -> (feat, label) pair rows.
    Distributed frozen-encoder feature extraction (step 1)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _model_for(weights_bc, vocab_bc, model_key)
        for pdf in batches:
            rows = [
                (feat.tolist(), label)
                for _row, _i, _j, label, feat in _gold_pairs(model, pdf)
            ]
            if rows:
                yield pd.DataFrame(rows, columns=["feat", "label"])

    return gold.select("tokens", "ent_spans", "relations").mapInPandas(
        run, PAIR_SCHEMA
    )


def _rel_shapes(dims: tuple[int, int, int]) -> dict[str, tuple[int, ...]]:
    dim_in, hidden, n_rels = dims
    return {
        "rel_W1": (dim_in, hidden),
        "rel_b1": (hidden,),
        "rel_W2": (hidden, n_rels),
        "rel_b2": (n_rels,),
    }


def grad_and_loss(
    flat_w: np.ndarray, X: np.ndarray, y: np.ndarray, dims: tuple[int, int, int]
) -> tuple[np.ndarray, float]:
    """Softmax cross-entropy SUMS (not means) over the 2-layer relu MLP
    (encoder_grad.rel_grad_loss_dX on the flat REL_PARAMS vector) — sums
    compose across partitions; the driver divides once. Shared by the
    Spark epoch step and the finite-difference test."""
    grads, _dX, loss = rel_grad_loss_dX(
        X, y, unflatten_params(flat_w, _rel_shapes(dims), REL_PARAMS)
    )
    return flatten_params(grads, REL_PARAMS), loss


def fit_relation_decoder(
    pairs: DataFrame,
    dim_in: int,
    n_rels: int = len(REL_TYPES),
    hidden: int = 64,
    epochs: int = 150,
    lr: float = 0.1,
    momentum: float = 0.9,
    seed: int = 0,
    init: dict[str, np.ndarray] | None = None,
) -> tuple[dict[str, np.ndarray], list[float]]:
    """Full-batch distributed gradient descent with heavy-ball momentum
    over SCALAR-STANDARDIZED features (step 2). Returns the trained
    decoder weights (float32, the inference dtype) and the per-epoch
    mean-loss history.

    Standardization matters here, not as a flourish: the frozen-encoder
    features are tiny-scale (RMS ~0.03 on the fixture), which leaves
    raw GD stuck on the majority-class (None) plateau for most seeds
    (measured 0.64 accuracy at any lr, momentum or not). Dividing by
    ONE global scalar — RMS of all feature entries, computed in a
    single distributed aggregation — conditions the problem so that
    lr=0.1 / momentum=0.9 reaches accuracy 1.0 on every seed tried.
    The scalar folds back into the returned weights
    (W1_out = W1_std / scale), so inference code is untouched. The
    velocity lives on the DRIVER; the cluster only ever computes
    gradient partial sums, so the execution shape is unchanged.

    ``pairs`` should be cached by the caller — every epoch scans it.
    ``init`` warm-starts from existing weights (fine-tuning; W1 enters
    standardized space as W1 * scale); default is seeded He-style
    random init (training from scratch)."""
    from pyspark.sql import functions as F

    spark = pairs.sparkSession
    # one aggregation: global RMS of every feature entry
    agg = pairs.select(
        F.aggregate(
            "feat", F.lit(0.0), lambda a, x: a + x * x
        ).alias("ss"),
        F.size("feat").alias("d"),
    ).agg(F.sum("ss").alias("ss"), F.sum("d").alias("d")).collect()[0]
    if not agg["d"]:  # empty frame: sums are NULL — fail here with the
        # intended error, not np.sqrt(None/None) TypeError
        raise ValueError("no training pairs")
    scale = float(np.sqrt(agg["ss"] / agg["d"])) or 1.0

    dims = (dim_in, hidden, n_rels)
    if init is not None:  # W1 enters standardized space as W1 * scale
        init = dict(init, rel_W1=np.asarray(init["rel_W1"], dtype=np.float64) * scale)
    else:
        rng = np.random.default_rng(seed)
        init = {
            "rel_W1": rng.standard_normal((dim_in, hidden)) * np.sqrt(2.0 / dim_in),
            "rel_b1": np.zeros(hidden),
            "rel_W2": rng.standard_normal((hidden, n_rels)) * np.sqrt(2.0 / hidden),
            "rel_b2": np.zeros(n_rels),
        }
    w = flatten_params(init, REL_PARAMS)
    history: list[float] = []
    velocity = np.zeros_like(w)
    for _ep in range(epochs):
        w_bc = spark.sparkContext.broadcast(w)

        def step(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc: np.ndarray | None = None
            loss_sum, n_sum = 0.0, 0
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(
                    [np.asarray(f, dtype=np.float64) for f in pdf["feat"]]
                ) / scale
                y = pdf["label"].to_numpy()
                g, loss = grad_and_loss(w_bc.value, X, y, dims)
                acc = g if acc is None else acc + g
                loss_sum += loss
                n_sum += len(y)
            if acc is not None:
                yield pd.DataFrame(
                    {"grad": [acc.tolist()], "loss": [loss_sum], "n": [n_sum]}
                )

        rows = pairs.mapInPandas(step, GRAD_SCHEMA).collect()
        w_bc.unpersist()
        if not rows:
            raise ValueError("no training pairs")
        total_n = sum(r["n"] for r in rows)
        grad = np.sum(
            [np.asarray(r["grad"], dtype=np.float64) for r in rows], axis=0
        )
        loss = sum(r["loss"] for r in rows) / total_n
        history.append(round(loss, 6))
        velocity = momentum * velocity - lr * grad / total_n
        w = w + velocity
    out = unflatten_params(w, _rel_shapes(dims), REL_PARAMS)
    out["rel_W1"] = out["rel_W1"] / scale  # fold the standardization back
    return {k: v.astype(np.float32) for k, v in out.items()}, history


PAIR_FEATURE_SCHEMA = (
    "sent_id int, subj int, obj int, label int, "
    "feat_sum double, feat_head double"
)


def pair_feature_frame(
    gold: DataFrame, weights_bc, vocab_bc, model_key: str = "default"
) -> DataFrame:
    """KEYED, fingerprinted view of the training pair features — the
    driver-oracle demo surface for the training path.

    Same rows as pair_training_frame (the shared _gold_pairs pass), but
    each row carries its (sent_id, subj, obj) key plus two deterministic
    float fingerprints (feat_sum = round(Σ feat, 6), feat_head =
    round(feat[0], 6)) instead of the raw 192-dim vector — small enough
    for a VALUES-literal DuckDB oracle, strong enough that any divergence
    in encoding, batching, or pair generation flips the hash.
    Batch-composition invariance of encode() (pytest property) is what
    makes the distributed result equal the oracle's full-pool replay."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _model_for(weights_bc, vocab_bc, model_key)
        for pdf in batches:
            sids = pdf["sent_id"].tolist()
            out = [
                {
                    "sent_id": int(sids[row]),
                    "subj": i,
                    "obj": j,
                    "label": label,
                    "feat_sum": round(float(feat.astype(np.float64).sum()), 6),
                    "feat_head": round(float(feat[0]), 6),
                }
                for row, i, j, label, feat in _gold_pairs(model, pdf)
            ]
            if out:
                yield pd.DataFrame(out)

    return gold.select("sent_id", "tokens", "ent_spans", "relations").mapInPandas(
        run, PAIR_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# mention-detector (CRF NLL + full encoder backprop) and JOINT
# training — the reference's core capability (its model trains; see
# antnre_spark/encoder_grad.py for the gradient machinery and SURVEY.md
# §2.E/§2.F provenance). Same execution shape as fit_relation_decoder:
# per-partition gradient SUMS over Arrow batches, driver-side all-reduce
# + Adam step; gradients (~40k float64 ≈ 320 KB/partition), never
# features or activations, cross the wire — executor-count-independent.

# single source of truth for the gradient-row layout: the schema and
# the tree-reduce combiner (_sum_grad_rows) both derive from these
# three tuples. The emit site (fit_joint.step) and the driver all-reduce
# keep literal names — a field missing THERE fails loudly (Arrow schema
# validation / KeyError at every partition count), whereas a field
# missed only in the combiner would silently drop gradients ONLY above
# combine_above partitions, i.e. only at scale, where tests don't run.
# The tuples close exactly that silent path.
_GRAD_ARRAY_FIELDS = ("enc", "rel", "gcn")  # flat grads, element-wise sum
_GRAD_SCALAR_FIELDS = ("crf", "rell", "gcnl")  # loss sums
_GRAD_COUNT_FIELDS = ("nt", "npair", "nnode")  # denominators
JOINT_GRAD_SCHEMA = ", ".join(
    [f"{f} array<double>" for f in _GRAD_ARRAY_FIELDS]
    + [f"{f} double" for f in _GRAD_SCALAR_FIELDS]
    + [f"{f} long" for f in _GRAD_COUNT_FIELDS]
)
# sentences per padded forward. 512 is the measured bandwidth sweet spot
# for the float32 BPTT path (local[16] epoch throughput 28.3k ->
# 38.7k sent-grads/s vs 256 — bigger B amortizes weight traffic across
# rows where memory bandwidth saturates; 1024 regresses, padding waste
# and cache pressure win). Length-sorting upstream bounds padding waste.
_TRAIN_SUB_BATCH = 512


def sentences_from_gold_rows(rows) -> list[dict]:
    """Parquet gold rows (tokens, ent_spans, relations) -> the sentence
    dicts encoder_grad.batch_loss_grad consumes. Accepts pyspark Rows,
    pandas rows, or plain dicts (struct fields index the same way)."""
    out = []
    for r in rows:
        out.append(
            {
                "tokens": [str(t) for t in r["tokens"]],
                "spans": [
                    (int(s["begin"]), int(s["end"]), str(s["ent_type"]))
                    for s in r["ent_spans"]
                ],
                "rels": {
                    (int(x["subj"]), int(x["obj"])): REL_TYPES.index(
                        str(x["pred"])
                    )
                    for x in r["relations"]
                },
            }
        )
    return out


def _adam_step(w, g, m, v, t, lr, b1=0.9, b2=0.999, eps=1e-8):
    m *= b1
    m += (1 - b1) * g
    v *= b2
    v += (1 - b2) * g * g
    mh = m / (1 - b1**t)
    vh = v / (1 - b2**t)
    w -= lr * mh / (np.sqrt(vh) + eps)
    return w, m, v


def _sum_grad_rows(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """Combiner stage of the two-level gradient reduce: element-wise sum
    of JOINT_GRAD_SCHEMA rows within a partition. Pure addition — the
    same composition rule the driver applies, just one level earlier."""
    acc: dict | None = None
    for pdf in batches:
        for _i, r in pdf.iterrows():
            if acc is None:
                # np.array (copy), NOT asarray: Arrow-backed rows are
                # zero-copy read-only buffers, and acc is mutated below
                acc = {
                    f: np.array(r[f], dtype=np.float64)
                    for f in _GRAD_ARRAY_FIELDS
                }
                acc.update({f: float(r[f]) for f in _GRAD_SCALAR_FIELDS})
                acc.update({f: int(r[f]) for f in _GRAD_COUNT_FIELDS})
            else:
                for f in _GRAD_ARRAY_FIELDS:
                    acc[f] += np.asarray(r[f], dtype=np.float64)
                for f in _GRAD_SCALAR_FIELDS:
                    acc[f] += float(r[f])
                for f in _GRAD_COUNT_FIELDS:
                    acc[f] += int(r[f])
    if acc is not None:
        yield pd.DataFrame(
            {
                f: [acc[f].tolist() if f in _GRAD_ARRAY_FIELDS else acc[f]]
                for f in (
                    _GRAD_ARRAY_FIELDS
                    + _GRAD_SCALAR_FIELDS
                    + _GRAD_COUNT_FIELDS
                )
            }
        )


def fit_joint(
    gold: DataFrame,
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    epochs: int = 30,
    lr: float = 0.05,
    rel_weight: float = 0.0,
    sample_fraction: float | None = None,
    seed: int = 0,
    refine: bool = False,
    dtype: str = "float64",
    combine_above: int = 16,
) -> tuple[dict[str, np.ndarray], list[dict]]:
    """Distributed full-batch training of the mention detector
    (``rel_weight=0``: CRF NLL through BiLSTM/char-CNN/embeddings/
    transitions) or the JOINT model (``rel_weight>0``: + relation
    cross-entropy over gold-span pairs, both losses backpropagated
    through the shared encoder — the EMNLP'18-style joint objective,
    teacher-forced on gold spans).

    Per epoch: broadcast the current flat parameters, one mapInPandas
    over the gold table computing per-partition (grad, loss, count) SUMS
    via encoder_grad.batch_loss_grad, one bounded collect, one Adam step
    on the driver. ``gold`` should be cached by the caller — every epoch
    scans it. Returns (full weight dict with the trained arrays replaced
    as float32 — the inference dtype — and a per-epoch history of
    {crf, rel} mean losses).

    Calibration on the fixture gold (1,276 train sentences, driver-local
    identical math): from a DEGRADED init (gaz_emis zeroed, emit/crf/rel
    re-randomized — held-out mention F1 0.03, triple F1 0.0), lr=0.05
    reaches held-out mention F1 0.999 by epoch 10 and triple F1 1.0 by
    epoch 30 — above the shipped fixture weights' own 0.994/0.947.

    ``sample_fraction`` (the 10^12-scale path): each epoch trains on a
    DIFFERENT deterministic Bernoulli sample of the gold table
    (df.sample seeded by ``seed + epoch``) instead of the full set —
    classic minibatch SGD at DataFrame granularity. Full-batch epochs
    scan every gold row; at billions of annotated sentences that is
    neither necessary (gradient noise is fine under Adam) nor
    affordable. The gradient is still normalized per token, so the step
    scale is fraction-independent; loss history reports the SAMPLED
    epoch means.

    ``refine``: also train the F4 GCN type-refinement head —
    per-sentence cross-entropy on the gold mention graph
    (encoder_grad.gcn_grad_loss), weight 1, its feature gradient flowing
    into the shared encoder. The trained gcn_* arrays
    replace the fixture priors in the returned weights; without
    ``refine`` they pass through untouched (inference defaults
    unchanged).

    ``dtype``: 'float64' (default — reproduces the
    pinned fixture numbers exactly) or 'float32' — the corpus-scale
    path; the encoder forward/backward runs single-precision (the BPTT
    matmuls are memory-bandwidth-bound; the float32 kernel isolate
    measured 0.887 N->4N vs float64's 0.81 platform ceiling) while the
    CRF lattice, loss sums, cross-partition accumulation, and the Adam
    state all stay float64, so optimizer trajectories differ only at
    single-precision rounding (tests pin the tolerance).

    ``combine_above``: when the gold table has more partitions than
    this, the per-partition gradient rows go through one intermediate
    combine stage (8 combiners) before the driver collect — a two-level
    tree reduce. At 1000 executors the flat collect would pull
    1000 x ~320 KB to one socket; the combine caps driver fan-in at 8
    rows while adding one tiny shuffle (the rows, not the data). Below
    the threshold the flat collect is strictly faster (fewer stage
    barriers per epoch — the synchronous term the scaling harness
    measures).
    """
    np_dtype = np.float32 if dtype == "float32" else np.float64
    spark = gold.sparkSession
    sc = spark.sparkContext
    trained_keys = ENC_PARAMS + REL_PARAMS + (GCN_PARAMS if refine else ())
    shapes = {k: tuple(np.asarray(weights[k]).shape) for k in trained_keys}
    frozen = {
        k: np.asarray(v)
        for k, v in weights.items()
        if k not in trained_keys
    }
    vocab_bc = sc.broadcast(vocab)
    enc = flatten_params(weights, ENC_PARAMS)
    rel = flatten_params(weights, REL_PARAMS)
    gcn = (
        flatten_params(weights, GCN_PARAMS)
        if refine
        else np.zeros(0, dtype=np.float64)
    )
    m_e, v_e = np.zeros_like(enc), np.zeros_like(enc)
    m_r, v_r = np.zeros_like(rel), np.zeros_like(rel)
    m_g, v_g = np.zeros_like(gcn), np.zeros_like(gcn)
    gcn_w = 1.0 if refine else 0.0
    history: list[dict] = []
    gold3 = gold.select("tokens", "ent_spans", "relations")
    n_parts = gold3.rdd.getNumPartitions()

    for ep in range(1, epochs + 1):
        epoch_src = (
            gold3.sample(fraction=sample_fraction, seed=seed + ep)
            if sample_fraction is not None
            else gold3
        )
        w_bc = sc.broadcast((enc, rel, gcn))

        def step(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            e_flat, r_flat, g_flat = w_bc.value
            ww = dict(
                unflatten_params(e_flat, shapes, ENC_PARAMS),
                **unflatten_params(r_flat, shapes, REL_PARAMS),
            )
            if gcn_w > 0.0:
                ww.update(unflatten_params(g_flat, shapes, GCN_PARAMS))
            acc_e = np.zeros_like(e_flat)
            acc_r = np.zeros_like(r_flat)
            acc_g = np.zeros_like(g_flat)
            crf_s = rel_s = gcn_s = 0.0
            nt_s = np_s = nn_s = 0
            for pdf in batches:
                if pdf.empty:
                    continue
                sents = sentences_from_gold_rows(
                    pdf.to_dict("records")
                )
                # length-sort then chunk: bounds padded-forward waste,
                # same discipline as nnmodel.encode's length bucketing
                sents.sort(key=lambda s: len(s["tokens"]))
                for lo in range(0, len(sents), _TRAIN_SUB_BATCH):
                    chunk = sents[lo : lo + _TRAIN_SUB_BATCH]
                    ge, gr, gg, cl, rl, gl, nt, npair, nnode = batch_loss_grad(
                        ww, vocab_bc.value, chunk,
                        rel_weight=rel_weight, gcn_weight=gcn_w,
                        dtype=np_dtype,
                    )
                    acc_e += ge
                    acc_r += gr
                    if gcn_w > 0.0:
                        acc_g += gg
                    crf_s += cl
                    rel_s += rl
                    gcn_s += gl
                    nt_s += nt
                    np_s += npair
                    nn_s += nnode
            if nt_s:
                yield pd.DataFrame(
                    {
                        "enc": [acc_e.tolist()],
                        "rel": [acc_r.tolist()],
                        "gcn": [acc_g.tolist()],
                        "crf": [crf_s],
                        "rell": [rel_s],
                        "gcnl": [gcn_s],
                        "nt": [nt_s],
                        "npair": [np_s],
                        "nnode": [nn_s],
                    }
                )

        grad_df = epoch_src.mapInPandas(step, JOINT_GRAD_SCHEMA)
        if n_parts > combine_above:
            # two-level tree reduce: sum the per-partition rows in 8
            # combiner tasks before the driver sees them (see docstring)
            grad_df = grad_df.repartition(8).mapInPandas(
                _sum_grad_rows, JOINT_GRAD_SCHEMA
            )
        rows = grad_df.collect()
        w_bc.unpersist()
        if not rows:
            if sample_fraction is not None:
                # an unlucky tiny sample can be empty — skip the step,
                # keep the optimizer state, move to the next epoch
                history.append({"crf": None, "rel": None})
                continue
            raise ValueError("no training sentences")
        nt = sum(r["nt"] for r in rows)
        npair = sum(r["npair"] for r in rows)
        nnode = sum(r["nnode"] for r in rows)
        g_enc = np.sum([np.asarray(r["enc"]) for r in rows], axis=0) / nt
        crf_loss = sum(r["crf"] for r in rows) / nt
        rel_loss = (
            sum(r["rell"] for r in rows) / npair if npair else 0.0
        )
        gcn_loss = (
            sum(r["gcnl"] for r in rows) / nnode if nnode else 0.0
        )
        enc, m_e, v_e = _adam_step(enc, g_enc, m_e, v_e, ep, lr)
        if rel_weight > 0.0 and npair:
            g_rel = np.sum([np.asarray(r["rel"]) for r in rows], axis=0) / npair
            rel, m_r, v_r = _adam_step(rel, g_rel, m_r, v_r, ep, lr)
        if gcn_w > 0.0 and nnode:
            g_gcn = np.sum([np.asarray(r["gcn"]) for r in rows], axis=0) / nnode
            gcn, m_g, v_g = _adam_step(gcn, g_gcn, m_g, v_g, ep, lr)
        hist_row = {"crf": round(crf_loss, 6), "rel": round(rel_loss, 6)}
        if refine:
            hist_row["gcn"] = round(gcn_loss, 6)
        history.append(hist_row)

    out = dict(frozen)
    for k, arr in unflatten_params(enc, shapes, ENC_PARAMS).items():
        out[k] = arr.astype(np.float32)
    trained_rel = unflatten_params(rel, shapes, REL_PARAMS)
    for k in REL_PARAMS:
        out[k] = (
            trained_rel[k].astype(np.float32)
            if rel_weight > 0.0
            else np.asarray(weights[k], dtype=np.float32)
        )
    if refine:
        for k, arr in unflatten_params(gcn, shapes, GCN_PARAMS).items():
            out[k] = arr.astype(np.float32)
    vocab_bc.unpersist()
    return out, history


MRT_GRAD_SCHEMA = "enc array<double>, risk double, n long"


def fit_mrt(
    gold: DataFrame,
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    epochs: int = 20,
    lr: float = 0.05,
    k: int = 5,
    alpha: float = 1.0,
    sample_fraction: float | None = None,
    seed: int = 0,
    dtype: str = "float64",
) -> tuple[dict[str, np.ndarray], list[float]]:
    """Distributed MINIMUM-RISK training of the mention detector — the
    reference's EMNLP'18 signature objective (`[pub: entrel/train]`
    unverified; SURVEY.md §0): minimize the expected span-F1 risk over a
    per-sentence k-best candidate distribution
    (encoder_grad.batch_mrt_grad — deterministic k-best approximation,
    so gradients are exact and finite-difference-checked). Same
    execution shape as fit_joint: per-partition gradient sums, bounded
    all-reduce, driver Adam. Returns (weights, per-epoch mean risk).

    Calibration (driver-local identical math, 600 fixture sentences):
    from the degraded init (held-out F1 0.03), 10 epochs reach mean risk
    0.08 and held-out F1 0.995. In practice MRT shines as a FINE-TUNING
    stage after NLL training — it optimizes the actual task metric,
    absorbing decode-time constraint interactions NLL cannot see.
    ``dtype``: see fit_joint — 'float32' is the corpus-scale path."""
    np_dtype = np.float32 if dtype == "float32" else np.float64
    spark = gold.sparkSession
    sc = spark.sparkContext
    shapes = {k2: tuple(np.asarray(weights[k2]).shape) for k2 in ENC_PARAMS}
    frozen = {
        k2: np.asarray(v) for k2, v in weights.items() if k2 not in ENC_PARAMS
    }
    vocab_bc = sc.broadcast(vocab)
    enc = flatten_params(weights, ENC_PARAMS)
    m_e, v_e = np.zeros_like(enc), np.zeros_like(enc)
    history: list[float] = []
    gold3 = gold.select("tokens", "ent_spans", "relations")

    for ep in range(1, epochs + 1):
        epoch_src = (
            gold3.sample(fraction=sample_fraction, seed=seed + ep)
            if sample_fraction is not None
            else gold3
        )
        w_bc = sc.broadcast(enc)

        def step(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ww = dict(frozen)
            ww.update(unflatten_params(w_bc.value, shapes, ENC_PARAMS))
            acc: np.ndarray | None = None
            risk_s, n_s = 0.0, 0
            for pdf in batches:
                if pdf.empty:
                    continue
                sents = sentences_from_gold_rows(pdf.to_dict("records"))
                sents.sort(key=lambda s: len(s["tokens"]))
                for lo in range(0, len(sents), _TRAIN_SUB_BATCH):
                    g, r, n = batch_mrt_grad(
                        ww, vocab_bc.value, sents[lo : lo + _TRAIN_SUB_BATCH],
                        k=k, alpha=alpha, dtype=np_dtype,
                    )
                    acc = g if acc is None else acc + g
                    risk_s += r
                    n_s += n
            if n_s:
                yield pd.DataFrame(
                    {"enc": [acc.tolist()], "risk": [risk_s], "n": [n_s]}
                )

        rows = epoch_src.mapInPandas(step, MRT_GRAD_SCHEMA).collect()
        w_bc.unpersist()
        if not rows:
            if sample_fraction is not None:
                history.append(None)
                continue
            raise ValueError("no training sentences")
        n = sum(r["n"] for r in rows)
        g = np.sum([np.asarray(r["enc"]) for r in rows], axis=0) / n
        history.append(round(sum(r["risk"] for r in rows) / n, 6))
        enc, m_e, v_e = _adam_step(enc, g, m_e, v_e, ep, lr)

    out = dict(frozen)
    for k2, arr in unflatten_params(enc, shapes, ENC_PARAMS).items():
        out[k2] = arr.astype(np.float32)
    vocab_bc.unpersist()
    return out, history


def mention_prf(
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    sentences: list[dict],
    refine_types: bool = False,
) -> dict:
    """Exact-span entity micro-P/R/F1 of the INFERENCE path (Viterbi
    decode, nnmodel.extract) against gold spans. Driver-local — sized for
    fixture-scale held-out evaluation (hundreds of sentences); the
    corpus-scale twin is jobs/evaluate.py over the distributed extract."""
    model = AntNREModel(weights, vocab)
    tp = fp = fn = 0
    for (ments, _rels), s in zip(
        model.extract([s["tokens"] for s in sentences], refine_types=refine_types),
        sentences,
    ):
        pred = {(m.begin, m.end, m.ent_type) for m in ments}
        gold = set(s["spans"])
        tp += len(pred & gold)
        fp += len(pred - gold)
        fn += len(gold - pred)
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"precision": round(p, 4), "recall": round(r, 4), "f1": round(f1, 4)}


def triple_prf(
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    sentences: list[dict],
    refine_types: bool = False,
) -> dict:
    """(subj span, obj span, pred) micro-P/R/F1 of the full inference
    path (decode -> classify_relations with its priors) vs gold."""
    model = AntNREModel(weights, vocab)
    tp = fp = fn = 0
    for (ments, rels), s in zip(
        model.extract([s["tokens"] for s in sentences], refine_types=refine_types),
        sentences,
    ):
        pred = {
            (
                ments[r.subj].begin,
                ments[r.subj].end,
                ments[r.obj].begin,
                ments[r.obj].end,
                r.pred,
            )
            for r in rels
        }
        gold = set()
        for (si, oi), rid in s["rels"].items():
            sb, se, _ = s["spans"][si]
            ob, oe, _ = s["spans"][oi]
            gold.add((sb, se, ob, oe, REL_TYPES[rid]))
        tp += len(pred & gold)
        fp += len(pred - gold)
        fn += len(gold - pred)
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"precision": round(p, 4), "recall": round(r, 4), "f1": round(f1, 4)}


def training_accuracy(
    pairs: DataFrame, weights: dict[str, np.ndarray]
) -> float:
    """Fraction of pairs whose argmax logit matches the gold label —
    computed distributed (per-batch correct/total, summed)."""
    W1 = weights["rel_W1"].astype(np.float64)
    b1 = weights["rel_b1"].astype(np.float64)
    W2 = weights["rel_W2"].astype(np.float64)
    b2 = weights["rel_b2"].astype(np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        correct, total = 0, 0
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack([np.asarray(f, dtype=np.float64) for f in pdf["feat"]])
            y = pdf["label"].to_numpy()
            pred = (np.maximum(X @ W1 + b1, 0.0) @ W2 + b2).argmax(axis=1)
            correct += int((pred == y).sum())
            total += len(y)
        if total:
            yield pd.DataFrame({"grad": [[float(correct)]], "loss": [0.0], "n": [total]})

    rows = pairs.mapInPandas(run, GRAD_SCHEMA).collect()
    total = sum(r["n"] for r in rows)
    correct = sum(r["grad"][0] for r in rows)
    return round(correct / total, 4) if total else 0.0
