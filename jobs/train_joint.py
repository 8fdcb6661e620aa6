"""Joint entity+relation training on a gold-annotation table — the
spark-submit entry for the full training path (CRF sequence loss +
BiLSTM/char-CNN/embedding backprop + relation cross-entropy; see
antnre_spark/encoder_grad.py and train.fit_joint). This is the engine's
counterpart of the reference's training loop (`[pub: antNRE/src/
seq_decoder.py, entrel/train]` unverified — SURVEY.md §0 policy).

Ships as: spark-submit --py-files kg.zip jobs/train_joint.py \
    --gold fixtures/data/gold_annotations.parquet \
    --weights fixtures/data/weights.npz --vocab fixtures/data/vocab.json \
    --out /tmp/joint.npz [--epochs 30] [--lr 0.05] [--rel-weight 1.0] \
    [--init scratch|weights] [--holdout-mod 5] [--detector-only]

--init scratch re-randomizes every trainable array (seeded) so the run
demonstrates learning from nothing; --init weights fine-tunes the given
file. A deterministic hash holdout (1/holdout-mod of sentences) is
carved out for honest metrics; pass --holdout-mod 0 to train on all.
Writes an npz carrying the FULL weight set with trained arrays replaced
(drop-in for extract.broadcast_model) and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from antnre_spark import train  # noqa: E402
from antnre_spark.encoder_grad import ENC_PARAMS, REL_PARAMS  # noqa: E402
from antnre_spark.session import get_spark  # noqa: E402


def _scratch_init(
    w: dict[str, np.ndarray], seed: int, refine: bool = False
) -> dict[str, np.ndarray]:
    """Seeded random re-init of every trainable array (shapes from the
    given file). Frozen priors (rel_pair_bias / rel_trig) keep their
    values — they are inference-time priors, not learned here. gcn_* is
    re-initialized ONLY when ``refine`` (it trains then); without
    --refine the fixture head is kept verbatim so refine_types=True
    inference on a scratch-trained model still has a working prior.
    With --refine the head is re-initialized too: warm-starting it from
    the fixture would contradict the from-scratch contract."""
    rng = np.random.default_rng(seed)
    out = dict(w)
    trained = ENC_PARAMS + REL_PARAMS
    if refine:
        from antnre_spark.encoder_grad import GCN_PARAMS

        trained = trained + GCN_PARAMS
    for k in trained:
        a = np.asarray(w[k])
        if k.endswith("_b") or k == "gaz_emis":
            out[k] = np.zeros_like(a)
        elif k == "crf_transitions":
            out[k] = (rng.standard_normal(a.shape) * 0.01).astype(np.float32)
        else:
            fan = a.shape[0] if a.ndim > 1 else a.size
            out[k] = (
                rng.standard_normal(a.shape) * np.sqrt(2.0 / max(fan, 1))
            ).astype(np.float32) * 0.3
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gold", required=True)
    ap.add_argument("--weights", required=True)
    ap.add_argument("--vocab", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--epochs", type=int, default=30)
    ap.add_argument("--lr", type=float, default=0.05)
    ap.add_argument("--rel-weight", type=float, default=1.0)
    ap.add_argument("--init", choices=["weights", "scratch"], default="scratch")
    ap.add_argument(
        "--glove",
        default=None,
        help="GloVe-format text file (optionally .gz): initialize "
        "word_emb from it, vocab-aligned with the mean-vector OOV/UNK "
        "policy (sources.load_glove_embeddings). Width must match the "
        "weights file's word_emb (the LSTM input dim is shape-coupled). "
        "Applied AFTER --init, so scratch runs still start from real "
        "text embeddings — the reference's word-encoder init path",
    )
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--holdout-mod", type=int, default=5)
    ap.add_argument(
        "--sample-fraction",
        type=float,
        default=None,
        help="per-epoch Bernoulli sample of the gold table (minibatch "
        "SGD — the corpus-scale path; omit for full-batch)",
    )
    ap.add_argument(
        "--detector-only",
        action="store_true",
        help="train only the mention detector (rel_weight forced to 0)",
    )
    ap.add_argument(
        "--mrt-epochs",
        type=int,
        default=0,
        help="after the NLL/joint phase, fine-tune the detector with N "
        "epochs of minimum-risk training (expected span-F1 risk over "
        "k-best candidates — the reference's EMNLP'18-style objective)",
    )
    ap.add_argument("--mrt-k", type=int, default=5)
    ap.add_argument(
        "--register",
        default=None,
        metavar="OUT_ROOT",
        help="after training, register the written npz under this "
        "pipeline output root: copies it to OUT_ROOT/models/<hash>.npz "
        "and commits a stage='model' marker (pipeline.register_model) — "
        "the hash extract_job's mixed-model resume guard checks",
    )
    ap.add_argument(
        "--refine",
        action="store_true",
        help="also train the F4 GCN type-refinement head on the gold "
        "mention graph (fit_joint refine=True); held-out metrics are "
        "then reported for refine_types=True inference as well",
    )
    ap.add_argument(
        "--dtype",
        choices=["float64", "float32"],
        default="float64",
        help="encoder forward/backward precision: float64 reproduces "
        "the pinned fixture numbers; float32 is the corpus-scale path "
        "(memory-bandwidth-bound BPTT, ~1.1x faster per epoch and "
        "0.89 vs 0.81 N->4N kernel scaling on this class of box)",
    )
    args = ap.parse_args()
    rel_weight = 0.0 if args.detector_only else args.rel_weight

    spark = get_spark("train-joint")
    spark.sparkContext.setLogLevel("WARN")
    with np.load(args.weights) as z:
        w = {k: z[k] for k in z.files}
    with open(args.vocab) as f:
        vocab = json.load(f)
    init = (
        _scratch_init(w, args.seed, refine=args.refine)
        if args.init == "scratch"
        else w
    )
    if args.glove:
        from antnre_spark.sources import load_glove_embeddings

        emb = load_glove_embeddings(
            args.glove, vocab, dim=int(np.asarray(w["word_emb"]).shape[1])
        )
        init = dict(init, word_emb=emb)

    gold = spark.read.parquet(args.gold)
    heldout: list[dict] = []
    if args.holdout_mod > 0:
        key = F.md5(
            F.concat_ws(":", "conv_id", F.col("turn_idx"), F.col("sent_idx"))
        )
        bucket = F.conv(F.substring(key, 1, 4), 16, 10).cast("long") % args.holdout_mod
        train_df = gold.filter(bucket != 0).persist()
        heldout = train.sentences_from_gold_rows(
            [r.asDict(recursive=True) for r in gold.filter(bucket == 0).collect()]
        )
    else:
        train_df = gold.persist()
    n_train = train_df.count()

    trained, history = train.fit_joint(
        train_df,
        init,
        vocab,
        epochs=args.epochs,
        lr=args.lr,
        rel_weight=rel_weight,
        sample_fraction=args.sample_fraction,
        seed=args.seed,
        refine=args.refine,
        dtype=args.dtype,
    )
    mrt_history: list | None = None
    if args.mrt_epochs > 0:
        trained, mrt_history = train.fit_mrt(
            train_df,
            trained,
            vocab,
            epochs=args.mrt_epochs,
            lr=args.lr,
            k=args.mrt_k,
            sample_fraction=args.sample_fraction,
            seed=args.seed,
            dtype=args.dtype,
        )
    train_df.unpersist()
    np.savez(args.out, **trained)
    registered_hash = None
    if args.register:
        from antnre_spark.pipeline import register_model

        registered_hash = register_model(
            args.register, args.out, note=f"train_joint seed={args.seed}"
        )

    report = {
        "n_train_sentences": n_train,
        "n_heldout_sentences": len(heldout),
        "epochs": args.epochs,
        "rel_weight": rel_weight,
        "model_hash": registered_hash,
        "crf_loss_first": history[0]["crf"],
        "crf_loss_last": history[-1]["crf"],
        "rel_loss_last": history[-1]["rel"],
    }
    if args.refine:
        report["gcn_loss_first"] = history[0]["gcn"]
        report["gcn_loss_last"] = history[-1]["gcn"]
    if mrt_history is not None:
        report["mrt_risk_first"] = mrt_history[0]
        report["mrt_risk_last"] = mrt_history[-1]
    if heldout:
        report["heldout_mention"] = train.mention_prf(trained, vocab, heldout)
        report["heldout_triple"] = train.triple_prf(trained, vocab, heldout)
        if args.refine:
            report["heldout_triple_refined"] = train.triple_prf(
                trained, vocab, heldout, refine_types=True
            )
    print(json.dumps(report))


if __name__ == "__main__":
    main()
