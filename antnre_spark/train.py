"""Distributed training of the joint model over gold annotations
(fixtures/gen_transcripts gold: tokens + ent_spans + relations). Every
trainer runs nnmodel's forward — the char-CNN, BiLSTM, CRF lattice, pair
features and GCN the extractor serves — with encoder_grad.py's losses
and backward passes, on the one epoch driver ``_run_epochs``:

- ``fit_relation_decoder``: the span-pair MLP (rel_W1/b1/W2/b2) over
  FROZEN encoder features, heavy-ball momentum. Feature extraction
  (``pair_training_frame``: encode, nnmodel.pair_features over the gold
  spans, label each admissible ordered pair with its gold relation id,
  0 = None) is a one-time distributed pass the caller caches, so each
  epoch touches only the compact pair-feature table. The additive
  inference-time priors (pair_bias / validity mask / trigger lexicon /
  order preference) are NOT trained: they apply on top of the learned
  logits, exactly as in nnmodel.classify_relations.
- ``fit_joint``: the mention detector or the joint model (CRF NLL,
  optional relation cross-entropy and F4 GCN head), Adam.
- ``fit_mrt``: minimum-risk fine-tuning of the mention detector, Adam.

Gradient correctness is pinned by finite-difference tests; learning is
pinned by loss-decreases + accuracy tests from random init on the
fixture gold (tests/test_train.py, tests/test_train_encoder.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import NamedTuple

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

# above this many input partitions an epoch's per-partition gradient rows
# are summed by 8 combiner tasks before the driver collect (_run_epochs)
COMBINE_ABOVE = 16


class _Fields(NamedTuple):
    """Named sums of one trainer's gradient rows. The row schema, the
    partition/combiner/driver reduce and the emit rule all derive from
    these names, so a field cannot be dropped at one reduce level only."""

    arrays: tuple[str, ...]  # flat float64 gradients, one per params vector
    scalars: tuple[str, ...]  # float loss sums
    counts: tuple[str, ...]  # integer denominators; counts[0] == 0 emits no row


def _sum_into(acc: dict, parts: Iterable[dict]) -> dict:
    """Add partial-sum dicts into ``acc`` in order; a field absent from
    ``acc`` starts from its first partial. Every reduce level — chunks in
    a partition, combiner rows, collected rows — adds with this rule."""
    for part in parts:
        for f, v in part.items():
            acc[f] = acc[f] + v if f in acc else v
    return acc


def _run_epochs(
    src: DataFrame,
    params: tuple[np.ndarray, ...],
    fields: _Fields,
    batch_sums: Callable[[pd.DataFrame, tuple], Iterator[dict]],
    step: Callable[[int, dict, tuple], tuple[tuple, object]],
    epochs: int,
    empty: str,
    skipped: object = None,
    sample_fraction: float | None = None,
    seed: int = 0,
    zero_start: bool = False,
) -> tuple[tuple[np.ndarray, ...], list]:
    """The epoch loop of every trainer: synchronous data-parallel gradient
    descent, all-reduce without a parameter server. Each epoch ``ep`` in
    1..epochs:

    1. with ``sample_fraction``, train on a fresh deterministic Bernoulli
       sample of ``src`` (``sample(seed + ep)``): minibatch SGD at
       DataFrame granularity, where a full scan per step is neither
       needed nor affordable;
    2. broadcast the flat parameter vectors ``params``;
    3. one mapInPandas: ``batch_sums(pdf, params)`` yields partial-sum
       dicts per non-empty Arrow batch, and each partition adds them into
       ONE row (map-side combine) — gradients, never features or
       activations, cross the wire (~40k float64 ≈ 320 KB per partition
       for the joint model), so the shape is executor-count-independent;
    4. above COMBINE_ABOVE input partitions, 8 combiner tasks sum those
       rows first — a two-level tree reduce that caps the driver's fan-in
       at 8 rows for one tiny shuffle; below it the flat collect saves a
       stage barrier per epoch;
    5. collect and sum; ``step(ep, sums, params)`` returns (new params,
       history entry) — the optimizer state lives on the driver.

    An epoch with no rows appends ``skipped`` when sampling (an unlucky
    small sample; the optimizer state is kept) and raises
    ValueError(``empty``) otherwise. Sums are float64 and add in a fixed
    order: scalars from 0.0, counts from 0, arrays from the first partial
    — or, within a partition, from zeros when ``zero_start``."""
    names = fields.arrays + fields.scalars + fields.counts
    schema = ", ".join(
        [f"{f} array<double>" for f in fields.arrays]
        + [f"{f} double" for f in fields.scalars]
        + [f"{f} long" for f in fields.counts]
    )

    def start() -> dict:
        return dict.fromkeys(fields.scalars, 0.0) | dict.fromkeys(fields.counts, 0)

    def as_sums(row) -> dict:  # a collected Row or a pandas record
        return {
            f: np.asarray(row[f], dtype=np.float64) if f in fields.arrays else row[f]
            for f in names
        }

    def emit(acc: dict) -> Iterator[pd.DataFrame]:
        if acc[fields.counts[0]]:
            yield pd.DataFrame(
                {f: [acc[f].tolist() if f in fields.arrays else acc[f]] for f in names}
            )

    def combine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = (as_sums(r) for pdf in batches for r in pdf.to_dict("records"))
        yield from emit(_sum_into(start(), rows))

    sc = src.sparkSession.sparkContext
    tree = src.rdd.getNumPartitions() > COMBINE_ABOVE
    history: list = []
    for ep in range(1, epochs + 1):
        epoch_src = (
            src.sample(fraction=sample_fraction, seed=seed + ep)
            if sample_fraction is not None
            else src
        )
        bc = sc.broadcast(params)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            p = bc.value
            acc = start()
            if zero_start:
                acc.update(zip(fields.arrays, map(np.zeros_like, p)))
            for pdf in batches:
                if not pdf.empty:
                    _sum_into(acc, batch_sums(pdf, p))
            yield from emit(acc)

        grad_df = epoch_src.mapInPandas(run, schema)
        if tree:
            grad_df = grad_df.repartition(8).mapInPandas(combine, schema)
        rows = grad_df.collect()
        bc.unpersist()
        if not rows:
            if sample_fraction is None:
                raise ValueError(empty)
            history.append(skipped)
            continue
        params, entry = step(ep, _sum_into(start(), map(as_sums, rows)), params)
        history.append(entry)
    return params, history


def _adam_step(w, g, m, v, t, lr, b1=0.9, b2=0.999, eps=1e-8) -> None:
    """One Adam step, in place on ``w`` and its moments ``m``, ``v``."""
    m *= b1
    m += (1 - b1) * g
    v *= b2
    v += (1 - b2) * g * g
    mh = m / (1 - b1**t)
    vh = v / (1 - b2**t)
    w -= lr * mh / (np.sqrt(vh) + eps)


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
    """gold(tokens, ent_spans, relations) -> (feat, label) pair rows:
    the one-time frozen-encoder feature pass of fit_relation_decoder."""

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
    """Full-batch distributed gradient descent (``_run_epochs``) with
    heavy-ball momentum over SCALAR-STANDARDIZED features. Returns the
    trained decoder weights (float32, the inference dtype) and the
    per-epoch mean-loss history.

    Standardization matters here, not as a flourish: the frozen-encoder
    features are tiny-scale (RMS ~0.03 on the fixture), which leaves
    raw GD stuck on the majority-class (None) plateau for most seeds
    (measured 0.64 accuracy at any lr, momentum or not). Dividing by
    ONE global scalar — RMS of all feature entries, computed in a
    single distributed aggregation — conditions the problem so that
    lr=0.1 / momentum=0.9 reaches accuracy 1.0 on every seed tried.
    The scalar folds back into the returned weights
    (W1_out = W1_std / scale), so inference code is untouched.

    ``pairs`` should be cached by the caller — every epoch scans it.
    ``init`` warm-starts from existing weights (fine-tuning; W1 enters
    standardized space as W1 * scale); default is seeded He-style
    random init (training from scratch)."""
    from pyspark.sql import functions as F

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

    def batch_sums(pdf: pd.DataFrame, params: tuple) -> Iterator[dict]:
        X = np.stack([np.asarray(f, dtype=np.float64) for f in pdf["feat"]]) / scale
        y = pdf["label"].to_numpy()
        g, loss = grad_and_loss(params[0], X, y, dims)
        yield {"grad": g, "loss": loss, "n": len(y)}

    w = flatten_params(init, REL_PARAMS)
    velocity = np.zeros_like(w)

    def step(_ep: int, s: dict, params: tuple) -> tuple[tuple, float]:
        nonlocal velocity
        velocity = momentum * velocity - lr * s["grad"] / s["n"]
        return (params[0] + velocity,), round(s["loss"] / s["n"], 6)

    (w,), history = _run_epochs(
        pairs, (w,), _Fields(("grad",), ("loss",), ("n",)), batch_sums, step,
        epochs, empty="no training pairs",
    )
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
# mention-detector and JOINT training through the encoder (the gradient
# machinery is antnre_spark/encoder_grad.py; SURVEY.md §2.E/§2.F)

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
    return [
        {
            "tokens": [str(t) for t in r["tokens"]],
            "spans": [
                (int(s["begin"]), int(s["end"]), str(s["ent_type"]))
                for s in r["ent_spans"]
            ],
            "rels": {
                (int(x["subj"]), int(x["obj"])): REL_TYPES.index(str(x["pred"]))
                for x in r["relations"]
            },
        }
        for r in rows
    ]


def _sentence_chunks(pdf: pd.DataFrame) -> Iterator[list[dict]]:
    """One Arrow batch of gold rows as length-sorted chunks of at most
    _TRAIN_SUB_BATCH sentences: bounds padded-forward waste, the same
    discipline as nnmodel.encode's length bucketing."""
    sents = sentences_from_gold_rows(pdf.to_dict("records"))
    sents.sort(key=lambda s: len(s["tokens"]))
    for lo in range(0, len(sents), _TRAIN_SUB_BATCH):
        yield sents[lo : lo + _TRAIN_SUB_BATCH]


def _float32(flat: np.ndarray, shapes: dict, keys: tuple[str, ...]) -> dict:
    """Trained flat float64 vector -> weight arrays in the inference dtype."""
    arrays = unflatten_params(flat, shapes, keys)
    return {k: a.astype(np.float32) for k, a in arrays.items()}


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
) -> tuple[dict[str, np.ndarray], list[dict]]:
    """Distributed training (``_run_epochs``, Adam) of the mention
    detector (``rel_weight=0``: CRF NLL through BiLSTM/char-CNN/
    embeddings/transitions) or the JOINT model (``rel_weight>0``: +
    relation cross-entropy over gold-span pairs, both losses
    backpropagated through the shared encoder — the EMNLP'18-style joint
    objective, teacher-forced on gold spans), each batch through
    encoder_grad.batch_loss_grad. ``gold`` should be cached by the
    caller — every epoch scans it. Returns (full weight dict with the
    trained arrays replaced as float32 — the inference dtype — and a
    per-epoch history of {crf, rel} mean losses).

    Calibration on the fixture gold (1,276 train sentences, driver-local
    identical math): from a DEGRADED init (gaz_emis zeroed, emit/crf/rel
    re-randomized — held-out mention F1 0.03, triple F1 0.0), lr=0.05
    reaches held-out mention F1 0.999 by epoch 10 and triple F1 1.0 by
    epoch 30 — above the shipped fixture weights' own 0.994/0.947.

    ``sample_fraction`` (the 10^12-scale path): each epoch trains on a
    DIFFERENT seeded sample of the gold table. The gradient is still
    normalized per token, so the step scale is fraction-independent;
    loss history reports the SAMPLED epoch means.

    ``refine``: also train the F4 GCN type-refinement head on the gold
    mention graph (encoder_grad.gcn_grad_loss, weight 1, its feature
    gradient flowing into the shared encoder); without it the gcn_*
    arrays pass through untouched.

    ``dtype``: 'float64' (default — reproduces the pinned fixture
    numbers exactly) or 'float32', the corpus-scale path: the encoder
    forward/backward runs single-precision (encoder_grad.encoder_forward)
    while the CRF lattice, loss sums, cross-partition accumulation and
    the Adam state stay float64 (tests pin the tolerance).
    """
    np_dtype = np.float32 if dtype == "float32" else np.float64
    trained_keys = ENC_PARAMS + REL_PARAMS + (GCN_PARAMS if refine else ())
    shapes = {k: tuple(np.asarray(weights[k]).shape) for k in trained_keys}
    frozen = {k: np.asarray(v) for k, v in weights.items() if k not in trained_keys}
    vocab_bc = gold.sparkSession.sparkContext.broadcast(vocab)

    def batch_sums(pdf: pd.DataFrame, params: tuple) -> Iterator[dict]:
        e_flat, r_flat, g_flat = params
        ww = dict(
            unflatten_params(e_flat, shapes, ENC_PARAMS),
            **unflatten_params(r_flat, shapes, REL_PARAMS),
        )
        if refine:
            ww.update(unflatten_params(g_flat, shapes, GCN_PARAMS))
        for chunk in _sentence_chunks(pdf):
            ge, gr, gg, cl, rl, gl, nt, npair, nnode = batch_loss_grad(
                ww, vocab_bc.value, chunk,
                rel_weight=rel_weight, gcn_weight=float(refine), dtype=np_dtype,
            )
            yield {
                "enc": ge, "rel": gr, "gcn": gg, "crf": cl, "rell": rl,
                "gcnl": gl, "nt": nt, "npair": npair, "nnode": nnode,
            }

    params = (
        flatten_params(weights, ENC_PARAMS),
        flatten_params(weights, REL_PARAMS),
        flatten_params(weights, GCN_PARAMS) if refine else np.zeros(0),
    )
    moments = [(np.zeros_like(p), np.zeros_like(p)) for p in params]

    def step(ep: int, s: dict, params: tuple) -> tuple[tuple, dict]:
        enc, rel, gcn = params
        nt, npair, nnode = s["nt"], s["npair"], s["nnode"]
        _adam_step(enc, s["enc"] / nt, *moments[0], ep, lr)
        if rel_weight > 0.0 and npair:
            _adam_step(rel, s["rel"] / npair, *moments[1], ep, lr)
        if refine and nnode:
            _adam_step(gcn, s["gcn"] / nnode, *moments[2], ep, lr)
        entry = {
            "crf": round(s["crf"] / nt, 6),
            "rel": round(s["rell"] / npair if npair else 0.0, 6),
        }
        if refine:
            entry["gcn"] = round(s["gcnl"] / nnode if nnode else 0.0, 6)
        return params, entry

    (enc, rel, gcn), history = _run_epochs(
        gold.select("tokens", "ent_spans", "relations"), params,
        _Fields(("enc", "rel", "gcn"), ("crf", "rell", "gcnl"), ("nt", "npair", "nnode")),
        batch_sums, step, epochs,
        empty="no training sentences", skipped={"crf": None, "rel": None},
        sample_fraction=sample_fraction, seed=seed, zero_start=True,
    )
    vocab_bc.unpersist()
    out = dict(frozen, **_float32(enc, shapes, ENC_PARAMS))
    if rel_weight > 0.0:
        out.update(_float32(rel, shapes, REL_PARAMS))
    else:
        out.update({k: np.asarray(weights[k], dtype=np.float32) for k in REL_PARAMS})
    if refine:
        out.update(_float32(gcn, shapes, GCN_PARAMS))
    return out, history


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
    so gradients are exact and finite-difference-checked), on the same
    epoch driver and driver Adam step as fit_joint. Returns (weights,
    per-epoch mean risk).

    Calibration (driver-local identical math, 600 fixture sentences):
    from the degraded init (held-out F1 0.03), 10 epochs reach mean risk
    0.08 and held-out F1 0.995. In practice MRT shines as a FINE-TUNING
    stage after NLL training — it optimizes the actual task metric,
    absorbing decode-time constraint interactions NLL cannot see.
    ``sample_fraction``, ``dtype``: see fit_joint."""
    np_dtype = np.float32 if dtype == "float32" else np.float64
    shapes = {k2: tuple(np.asarray(weights[k2]).shape) for k2 in ENC_PARAMS}
    frozen = {k2: np.asarray(v) for k2, v in weights.items() if k2 not in ENC_PARAMS}
    vocab_bc = gold.sparkSession.sparkContext.broadcast(vocab)

    def batch_sums(pdf: pd.DataFrame, params: tuple) -> Iterator[dict]:
        ww = dict(frozen, **unflatten_params(params[0], shapes, ENC_PARAMS))
        for chunk in _sentence_chunks(pdf):
            g, r, n = batch_mrt_grad(
                ww, vocab_bc.value, chunk, k=k, alpha=alpha, dtype=np_dtype
            )
            yield {"enc": g, "risk": r, "n": n}

    enc = flatten_params(weights, ENC_PARAMS)
    moments = (np.zeros_like(enc), np.zeros_like(enc))

    def step(ep: int, s: dict, params: tuple) -> tuple[tuple, float]:
        _adam_step(params[0], s["enc"] / s["n"], *moments, ep, lr)
        return params, round(s["risk"] / s["n"], 6)

    (enc,), history = _run_epochs(
        gold.select("tokens", "ent_spans", "relations"), (enc,),
        _Fields(("enc",), ("risk",), ("n",)), batch_sums, step, epochs,
        empty="no training sentences",
        sample_fraction=sample_fraction, seed=seed,
    )
    vocab_bc.unpersist()
    return dict(frozen, **_float32(enc, shapes, ENC_PARAMS)), history


def _prf(
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    sentences: list[dict],
    refine_types: bool,
    items: Callable[[list, list, dict], tuple[set, set]],
) -> dict:
    """Micro-P/R/F1 of the inference path (nnmodel.extract) over
    ``sentences``; ``items(mentions, relations, sentence)`` returns the
    (predicted, gold) item sets of one sentence. Driver-local — sized for
    fixture-scale held-out evaluation (hundreds of sentences); the
    corpus-scale twin is jobs/evaluate.py over the distributed extract."""
    model = AntNREModel(weights, vocab)
    tp = fp = fn = 0
    for (ments, rels), s in zip(
        model.extract([s["tokens"] for s in sentences], refine_types=refine_types),
        sentences,
    ):
        pred, gold = items(ments, rels, s)
        tp += len(pred & gold)
        fp += len(pred - gold)
        fn += len(gold - pred)
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"precision": round(p, 4), "recall": round(r, 4), "f1": round(f1, 4)}


def mention_prf(
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    sentences: list[dict],
    refine_types: bool = False,
) -> dict:
    """Exact-span entity micro-P/R/F1 of the inference path (Viterbi
    decode) against gold spans."""

    def items(ments, _rels, s):
        return {(m.begin, m.end, m.ent_type) for m in ments}, set(s["spans"])

    return _prf(weights, vocab, sentences, refine_types, items)


def triple_prf(
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    sentences: list[dict],
    refine_types: bool = False,
) -> dict:
    """(subj span, obj span, pred) micro-P/R/F1 of the full inference
    path (decode -> classify_relations with its priors) vs gold."""

    def items(ments, rels, s):
        pred = {
            (ments[r.subj].begin, ments[r.subj].end,
             ments[r.obj].begin, ments[r.obj].end, r.pred)
            for r in rels
        }
        sp = s["spans"]
        gold = {
            (sp[si][0], sp[si][1], sp[oi][0], sp[oi][1], REL_TYPES[rid])
            for (si, oi), rid in s["rels"].items()
        }
        return pred, gold

    return _prf(weights, vocab, sentences, refine_types, items)


def training_accuracy(
    pairs: DataFrame, weights: dict[str, np.ndarray]
) -> float:
    """Fraction of pairs whose argmax logit matches the gold label —
    computed distributed (per-batch correct/total, summed)."""
    W1, b1, W2, b2 = (weights[k].astype(np.float64) for k in REL_PARAMS)

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
            yield pd.DataFrame({"correct": [correct], "n": [total]})

    rows = pairs.mapInPandas(run, "correct long, n long").collect()
    total = sum(r["n"] for r in rows)
    correct = sum(r["correct"] for r in rows)
    return round(correct / total, 4) if total else 0.0
