"""A2: annotated-corpus reader/writer — CoNLL04-shaped text format
(SURVEY.md §2.A A2; format per the public corpus layout, `[pub: data/]`
unverified — see SURVEY.md §0 provenance policy).

Serialization (one block per sentence, blank-line separated):

    #doc <conv_id> <turn_idx> <sent_idx>
    <idx>\t<token>\t<BIO-tag>
    ...
    #rel <subj_span_idx> <obj_span_idx> <pred>

Small-corpus semantics: annotated corpora are a few MB (CoNLL04 is ~1.4k
sentences) — the reader parses driver-side and builds a DataFrame with the
explicit gold schema; no distributed parse is warranted. For hypothetical
huge annotated corpora, the same block parser drops into
``spark.read.text`` + ``mapInPandas`` unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from antnre_spark.schema import local_frame

GOLD_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("tokens", ArrayType(StringType(), False), False),
        StructField(
            "ent_spans",
            ArrayType(
                StructType(
                    [
                        StructField("begin", IntegerType(), False),
                        StructField("end", IntegerType(), False),
                        StructField("ent_type", StringType(), False),
                    ]
                ),
                False,
            ),
            False,
        ),
        StructField(
            "relations",
            ArrayType(
                StructType(
                    [
                        StructField("subj", IntegerType(), False),
                        StructField("obj", IntegerType(), False),
                        StructField("pred", StringType(), False),
                    ]
                ),
                False,
            ),
            False,
        ),
    ]
)


def _tags_to_spans(tags: list[str]) -> list[dict]:
    spans, start, cur = [], -1, None
    for i, tag in enumerate(tags + ["O"]):
        if tag.startswith("B-"):
            if cur is not None:
                spans.append({"begin": start, "end": i, "ent_type": cur})
            start, cur = i, tag[2:]
        elif tag.startswith("I-") and cur == tag[2:]:
            continue
        else:
            if cur is not None:
                spans.append({"begin": start, "end": i, "ent_type": cur})
            start, cur = -1, None
    return spans


def _spans_to_tags(n: int, spans: list) -> list[str]:
    tags = ["O"] * n
    for s in spans:
        tags[s["begin"]] = f"B-{s['ent_type']}"
        for i in range(s["begin"] + 1, s["end"]):
            tags[i] = f"I-{s['ent_type']}"
    return tags


def parse_conll04(text: str) -> list[dict]:
    """Parse the block format into gold-annotation rows (pure function)."""
    rows: list[dict] = []
    cur: dict | None = None
    for line in text.splitlines() + [""]:
        line = line.rstrip("\n")
        if line.startswith("#doc "):
            _, conv_id, turn_idx, sent_idx = line.split(" ")
            cur = {
                "conv_id": conv_id,
                "turn_idx": int(turn_idx),
                "sent_idx": int(sent_idx),
                "tokens": [],
                "_tags": [],
                "relations": [],
            }
        elif line.startswith("#rel ") and cur is not None:
            _, s, o, pred = line.split(" ")
            cur["relations"].append({"subj": int(s), "obj": int(o), "pred": pred})
        elif line == "":
            if cur is not None:
                cur["ent_spans"] = _tags_to_spans(cur.pop("_tags"))
                rows.append(cur)
                cur = None
        elif cur is not None:
            _idx, token, tag = line.split("\t")
            cur["tokens"].append(token)
            cur["_tags"].append(tag)
    return rows


def read_conll04(spark: SparkSession, path: str) -> DataFrame:
    with open(path) as f:
        rows = parse_conll04(f.read())
    return local_frame(spark, rows, GOLD_SCHEMA)


def write_conll04(gold: DataFrame, path: str) -> int:
    """Inverse: gold-annotation rows -> block text (deterministic order)."""
    rows = gold.orderBy("conv_id", "turn_idx", "sent_idx").collect()
    blocks = []
    for r in rows:
        lines = [f"#doc {r['conv_id']} {r['turn_idx']} {r['sent_idx']}"]
        tags = _spans_to_tags(len(r["tokens"]), r["ent_spans"])
        for i, (tok, tag) in enumerate(zip(r["tokens"], tags)):
            lines.append(f"{i}\t{tok}\t{tag}")
        for rel in r["relations"]:
            lines.append(f"#rel {rel['subj']} {rel['obj']} {rel['pred']}")
        blocks.append("\n".join(lines))
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n\n".join(blocks) + "\n")
    return len(rows)


# ---------------------------------------------------------------------------
# A3: GloVe-format text embedding ingestion. The
# reference initializes its word encoder from GloVe text files (`[pub:
# word_encoder.py]` unverified — SURVEY.md §0); this engine's A3 loader
# took npz fixtures only, the last I/O asymmetry for real-corpus use.


def load_glove_embeddings(
    path: str,
    vocab: dict[str, int],
    dim: int | None = None,
) -> "np.ndarray":
    """Parse a GloVe-format text file (``token v1 .. vd`` per line,
    optionally .gz) into a float32 [len(vocab), d] matrix aligned to
    ``vocab``'s ids — a drop-in replacement for the weights file's
    ``word_emb`` array.

    Policy (driver-local — embedding files are vocab-sized, not
    corpus-sized; the CORPUS-scale object is the broadcast this feeds):
    - tokens are matched lowercased (the vocab is lowercase);
      first occurrence wins on duplicates;
    - [PAD] (id 0) stays all-zero;
    - [UNK] and every in-vocab token absent from the file get the MEAN
      of the matched vectors (the standard OOV init — keeps them on the
      data manifold instead of at the origin);
    - ``dim`` pins the expected width; a mismatched line raises.
    """
    import gzip

    import numpy as np

    opener = gzip.open if path.endswith(".gz") else open
    vecs: dict[int, np.ndarray] = {}
    with opener(path, "rt", encoding="utf-8") as f:
        for ln, line in enumerate(f, 1):
            parts = line.rstrip("\n").split(" ")
            if len(parts) < 2:
                continue
            tok = parts[0].lower()
            vid = vocab.get(tok)
            if vid is None or vid in vecs:
                continue
            v = np.asarray(parts[1:], dtype=np.float32)
            if dim is None:
                dim = len(v)
            elif len(v) != dim:
                raise ValueError(
                    f"{path}:{ln}: vector width {len(v)} != expected {dim}"
                )
            vecs[vid] = v
    if not vecs:
        raise ValueError(f"{path}: no vocab token found in embedding file")
    out = np.zeros((len(vocab), dim), dtype=np.float32)
    mean = np.mean(np.stack(list(vecs.values())), axis=0)
    for tok, vid in vocab.items():
        if tok == "[PAD]":
            continue
        out[vid] = vecs.get(vid, mean)
    return out


def write_glove_text(word_emb, vocab: dict[str, int], path: str) -> int:
    """Inverse of load_glove_embeddings (fixture/round-trip tool): write
    vocab tokens + vectors in GloVe text format. Skips [PAD]/[UNK]
    (synthetic ids, not lexical tokens). Returns lines written."""
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        for tok, vid in sorted(vocab.items(), key=lambda kv: kv[1]):
            if tok in ("[PAD]", "[UNK]"):
                continue
            vec = " ".join(f"{x:.6g}" for x in word_emb[vid])
            f.write(f"{tok} {vec}\n")
            n += 1
    return n
