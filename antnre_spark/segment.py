"""D: sentence segmentation, tokenization, vocabulary (SURVEY.md §2.D).

The v1 tokenizer is deliberately SQL-expressible (whitespace split) so every
downstream decision is reproducible in the DuckDB oracle; sentence
segmentation is a vectorized regex over pandas Series (scalar pandas_udf —
Arrow-batched, no per-row Python at the Spark row level).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# split AFTER sentence-final punctuation followed by whitespace
_SENT_BOUNDARY = re.compile(r"(?<=[.!?])\s+")

_SENT_STRUCT = ArrayType(
    StructType(
        [
            StructField("sent", StringType(), False),
            StructField("char_begin", IntegerType(), False),
            StructField("char_end", IntegerType(), False),
        ]
    )
)


@F.pandas_udf(_SENT_STRUCT)
def split_sentences_udf(texts: pd.Series) -> pd.Series:
    """D1: text -> [(sentence, char_begin, char_end)] with original-string
    offsets (end exclusive). Deterministic pure function of the text."""

    def split_one(text: str) -> list[dict]:
        if text is None:
            return []
        out = []
        pos = 0
        for piece in _SENT_BOUNDARY.split(text):
            if not piece:
                continue
            begin = text.index(piece, pos)
            end = begin + len(piece)
            out.append({"sent": piece, "char_begin": begin, "char_end": end})
            pos = end
        return out

    return texts.map(split_one)


def segment_turns(turns: DataFrame) -> DataFrame:
    """D1+D2: turn rows -> sentence rows with whitespace tokens.

    posexplode keeps sent_idx deterministic (array order = offset order).
    No shuffle: this is a narrow map over whatever partitioning the input
    has — extraction stays conversation-local from C1 through F
    (SURVEY.md §4.3.6).
    """
    sents = turns.select(
        "conv_id",
        "turn_idx",
        F.posexplode(split_sentences_udf(F.col("text"))).alias("sent_idx", "s"),
    )
    return sents.select(
        "conv_id",
        "turn_idx",
        F.col("sent_idx").cast("int").alias("sent_idx"),
        F.split(F.trim(F.col("s.sent")), r"\s+").alias("tokens"),
        F.col("s.char_begin").alias("char_begin"),
        F.col("s.char_end").alias("char_end"),
    )


def build_vocab(
    sentences: DataFrame, min_freq: int = 1, lowercase: bool = True
) -> DataFrame:
    """D3: corpus vocabulary (token, id, freq) — explode → groupBy-count →
    min-freq filter → rank. ID order is total and deterministic:
    (freq DESC, token ASC). (`[pub: antNRE/lib/vocabulary.py]` semantics.)

    At scale: two shuffles (count agg + the global rank). The global
    row_number window over a single partition is acceptable because the
    vocabulary after min-freq pruning is small (≤ a few 100k rows); if it
    were not, switch to zipWithIndex-style two-phase ranking.
    """
    tokens = sentences.select(F.explode("tokens").alias("token"))
    if lowercase:
        tokens = tokens.select(F.lower("token").alias("token"))
    counts = (
        tokens.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return counts.withColumn("id", F.row_number().over(w) + F.lit(1)).select(
        "token", "id", "freq"
    )
