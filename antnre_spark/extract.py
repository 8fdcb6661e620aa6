"""E+F: fused mention + relation extraction as ONE mapInPandas stage.

The reference runs its BiLSTM-CRF mention detector and span-pair relation
classifier as consecutive stages of one forward pass per minibatch
(SURVEY.md §3.1, `[pub: entrel/]` unverified). We keep that fusion: a single
Arrow-batched mapInPandas computes per-sentence hidden states ONCE and emits
both mentions and relations as nested arrays — per-sentence hidden states
(`[T, 2h]` floats) are never shuffled between stages (SURVEY.md §2.F F2).

Scale properties:
- narrow map: inherits the input partitioning (conversation-local after C1);
  zero shuffles introduced;
- Arrow batch size is capped by spark.sql.execution.arrow.maxRecordsPerBatch
  AND re-chunked in-UDF by token budget, so one pathological batch (e.g. the
  planted 10^4-turn conversation) cannot OOM a Python worker (size-capped
  extraction batches, BASELINE.json:6 / SURVEY.md §4.3.3);
- weights travel once per executor via broadcast, unpacked once per Python
  worker process (module-level cache), not once per batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from antnre_spark.nnmodel import AntNREModel
from antnre_spark.schema import EXTRACTED

# token budget per model sub-call: bounds padded-matrix memory inside the UDF
TOKEN_BUDGET = 16_384

_MODEL_CACHE: dict[str, AntNREModel] = {}


def broadcast_model(spark: SparkSession, npz_path: str, vocab_path: str):
    """A3: driver-side numpy load -> spark broadcast (never a DataFrame).
    Returns (weights_bc, vocab_bc, model_key). model_key is a content hash
    used as the per-worker model-cache key (Broadcast.id is driver-only)."""
    import hashlib
    import json

    import numpy as np

    with np.load(npz_path) as z:
        weights = {k: z[k] for k in z.files}
    with open(vocab_path) as f:
        vocab = json.load(f)
    with open(npz_path, "rb") as f:
        model_key = hashlib.sha256(f.read()).hexdigest()[:16]
    sc = spark.sparkContext
    return sc.broadcast(weights), sc.broadcast(vocab), model_key


def _model_for(weights_bc, vocab_bc, model_key: str) -> AntNREModel:
    model = _MODEL_CACHE.get(model_key)
    if model is None:
        model = AntNREModel(weights_bc.value, vocab_bc.value)
        _MODEL_CACHE.clear()  # at most one model resident per worker
        _MODEL_CACHE[model_key] = model
    return model


def _budget_bounds(sizes, budget: int) -> list[tuple[int, int]]:
    """[lo, hi) chunk bounds so each chunk's total size <= budget (one
    oversized row still forms its own chunk). The single budget rule of
    the model stage (_extract_frames) and of train.py's batched passes."""
    bounds: list[tuple[int, int]] = []
    start, acc = 0, 0
    n = 0
    for i, s in enumerate(sizes):
        n = i + 1
        if acc + int(s) > budget and i > start:
            bounds.append((start, i))
            start, acc = i, 0
        acc += int(s)
    if start < n:
        bounds.append((start, n))
    return bounds


def _extract_frames(
    model: AntNREModel,
    conv_ids,
    turn_idxs,
    sent_idxs,
    token_lists: list[list[str]],
    token_budget: int,
    refine_types: bool,
    conf_mode: str = "local",
) -> Iterator[pd.DataFrame]:
    """The one model-stage body behind both extraction entry points:
    per-sentence columns -> EXTRACTED frames, one ``model.extract`` call
    per token-budget chunk (so one pathological Arrow batch cannot OOM
    the worker)."""
    for lo, hi in _budget_bounds([len(t) for t in token_lists], token_budget):
        toks = token_lists[lo:hi]
        results = model.extract(
            toks, refine_types=refine_types, conf_mode=conf_mode
        )
        out_m, out_r = _result_lists(results, toks)
        yield pd.DataFrame(
            {
                "conv_id": conv_ids[lo:hi],
                "turn_idx": pd.array(turn_idxs[lo:hi], dtype="int32"),
                "sent_idx": pd.array(sent_idxs[lo:hi], dtype="int32"),
                "mentions": out_m,
                "relations": out_r,
            }
        )


# Spark's `trim` removes ONLY the space character (0x20), and Java's
# regex \s is ASCII-only ([ \t\n\x0B\f\r]) — both narrower than
# python's unicode-aware str.strip()/\s. The fused path must replicate
# the JVM tokenizer EXACTLY or token indices (and therefore mention
# spans and ids) drift on inputs with tabs/newlines/NBSP at sentence
# edges — pinned by
# tests/test_invariants.py::test_fused_tokenizer_matches_jvm_on_nasty_whitespace.
_JVM_WS = None  # compiled lazily (module import stays light)


def _jvm_tokens(piece: str) -> list[str]:
    """Exact python replica of F.split(F.trim(col), r"\\s+"):
    trim = strip 0x20 only; split on ASCII whitespace runs, KEEPING the
    leading/trailing empty tokens Java split(-1) produces."""
    global _JVM_WS
    if _JVM_WS is None:
        import re

        _JVM_WS = re.compile(r"[ \t\n\x0b\f\r]+")
    return _JVM_WS.split(piece.strip(" "))


def extract_sentences(
    sentences: DataFrame,
    weights_bc,
    vocab_bc,
    token_budget: int = TOKEN_BUDGET,
    model_key: str = "default",
    refine_types: bool = False,
) -> DataFrame:
    """sentences(conv_id, turn_idx, sent_idx, tokens, ...) -> EXTRACTED.

    The staged form of the model stage (segmentation already ran as its
    own pandas_udf stage); production runs the fused ``extract_turns``,
    which emits the same rows.

    ``refine_types``: run the F4 GCN joint type-refinement pass inside the
    same forward call (nnmodel.refine_mention_types) — zero extra shuffles.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _model_for(weights_bc, vocab_bc, model_key)
        for pdf in batches:
            yield from _extract_frames(
                model,
                pdf["conv_id"].to_numpy(),
                pdf["turn_idx"].to_numpy(),
                pdf["sent_idx"].to_numpy(),
                [list(t) for t in pdf["tokens"]],
                token_budget,
                refine_types,
            )

    # prune to the four consumed columns: char offsets etc. would
    # otherwise ride the Arrow hop
    return sentences.select(
        "conv_id", "turn_idx", "sent_idx", "tokens"
    ).mapInPandas(run, EXTRACTED)


def extract_turns(
    turns: DataFrame,
    weights_bc,
    vocab_bc,
    token_budget: int = TOKEN_BUDGET,
    model_key: str = "default",
    refine_types: bool = False,
    conf_mode: str = "local",
) -> DataFrame:
    """Fused D1+D2+E+F: sentence segmentation + tokenization run INSIDE
    the model's mapInPandas instead of as a separate scalar pandas_udf
    stage — turn rows go through ONE Arrow hop, not two.

    Why this matters for N->4N scaling: the segment-then-extract chain
    serializes every turn's text across the JVM<->Python boundary twice
    (once into split_sentences_udf, once into the model UDF) and builds
    the intermediate sentence-struct arrays in between; with 4N workers
    sharing one local JVM's memory bus, those extra copies are pure
    bandwidth pressure on the stage the profile blamed (~0.5 stage
    efficiency, BENCH/BASELINE.md). Here the text crosses once and
    sentences exist only as python lists inside the worker.

    Semantics are IDENTICAL to
    ``extract_sentences(segment.segment_turns(turns))``: the same
    boundary regex (segment._SENT_BOUNDARY) and an EXACT python replica
    of the JVM tokenizer (_jvm_tokens — Spark trim strips 0x20 only and
    Java \\s is ASCII-only, both narrower than python defaults; a naive
    strip()/\\s version drifts on tab/NBSP-edged text). Asserted
    row-for-row in tests/test_invariants.py, including an
    adversarial-whitespace case. Output rows are per-sentence
    (mapInPandas may emit more rows than it consumes).

    The model stage runs one task per input partition, so callers size
    it upstream (assemble.partition_for_extraction: one partition per
    core).

    ``refine_types``: as in ``extract_sentences``. ``conf_mode``: mention
    confidence mode, see nnmodel.AntNREModel.extract."""
    from antnre_spark.segment import _SENT_BOUNDARY

    turns = turns.select("conv_id", "turn_idx", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _model_for(weights_bc, vocab_bc, model_key)
        for pdf in batches:
            convs: list = []
            tidxs: list = []
            sidxs: list = []
            toks_all: list = []
            for conv, tidx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                if text is None:
                    continue
                sent_idx = 0
                for piece in _SENT_BOUNDARY.split(text):
                    if not piece:
                        continue
                    convs.append(conv)
                    tidxs.append(tidx)
                    sidxs.append(sent_idx)
                    toks_all.append(_jvm_tokens(piece))
                    sent_idx += 1
            yield from _extract_frames(
                model, convs, tidxs, sidxs, toks_all,
                token_budget, refine_types, conf_mode,
            )

    return turns.mapInPandas(run, EXTRACTED)


def _result_lists(results, toks) -> tuple[list, list]:
    """Model output -> plain mention/relation dict lists."""
    out_m, out_r = [], []
    for (mentions, relations), tk in zip(results, toks):
        out_m.append(
            [
                {
                    "begin": m.begin,
                    "end": m.end,
                    "ent_type": m.ent_type,
                    "surface": " ".join(tk[m.begin : m.end]),
                    "conf": m.conf,
                }
                for m in mentions
            ]
        )
        out_r.append(
            [
                {
                    "subj_begin": mentions[r.subj].begin,
                    "subj_end": mentions[r.subj].end,
                    "subj_ent_type": mentions[r.subj].ent_type,
                    "subj_surface": " ".join(
                        tk[mentions[r.subj].begin : mentions[r.subj].end]
                    ),
                    "obj_begin": mentions[r.obj].begin,
                    "obj_end": mentions[r.obj].end,
                    "obj_ent_type": mentions[r.obj].ent_type,
                    "obj_surface": " ".join(
                        tk[mentions[r.obj].begin : mentions[r.obj].end]
                    ),
                    "pred": r.pred,
                    "conf": r.conf,
                }
                for r in relations
            ]
        )
    return out_m, out_r


def _mention_id(conv, turn, sent, begin, end):
    return F.concat_ws(
        ":", conv, turn.cast("string"), sent.cast("string"),
        F.concat_ws("-", begin.cast("string"), end.cast("string")),
    )


def explode_mentions(extracted: DataFrame) -> DataFrame:
    """EXTRACTED -> MENTIONS rows with deterministic mention_id
    ``conv:turn:sent:begin-end`` (pure function of position — no UUIDs, so
    re-extraction is idempotent for resume, SURVEY.md §7.3)."""
    m = extracted.select(
        "conv_id", "turn_idx", "sent_idx", F.explode("mentions").alias("m")
    )
    return m.select(
        "conv_id",
        "turn_idx",
        "sent_idx",
        _mention_id(
            F.col("conv_id"), F.col("turn_idx"), F.col("sent_idx"),
            F.col("m.begin"), F.col("m.end"),
        ).alias("mention_id"),
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        F.col("m.ent_type").alias("ent_type"),
        F.col("m.surface").alias("surface"),
        F.col("m.conf").alias("conf"),
    )


def explode_relations(extracted: DataFrame) -> DataFrame:
    """EXTRACTED -> RELATIONS rows; mention ids reconstructed from span
    offsets and argument (type, surface) carried inline (no join back to
    mentions needed — zero shuffle; triple resolution joins only the small
    distinct-surface map)."""
    r = extracted.select(
        "conv_id", "turn_idx", "sent_idx", F.explode("relations").alias("r")
    )
    return r.select(
        "conv_id",
        "turn_idx",
        "sent_idx",
        _mention_id(
            F.col("conv_id"), F.col("turn_idx"), F.col("sent_idx"),
            F.col("r.subj_begin"), F.col("r.subj_end"),
        ).alias("subj_mention_id"),
        _mention_id(
            F.col("conv_id"), F.col("turn_idx"), F.col("sent_idx"),
            F.col("r.obj_begin"), F.col("r.obj_end"),
        ).alias("obj_mention_id"),
        F.col("r.subj_ent_type").alias("subj_ent_type"),
        F.col("r.subj_surface").alias("subj_surface"),
        F.col("r.obj_ent_type").alias("obj_ent_type"),
        F.col("r.obj_surface").alias("obj_surface"),
        F.col("r.pred").alias("pred"),
        F.col("r.conf").alias("conf"),
    )
