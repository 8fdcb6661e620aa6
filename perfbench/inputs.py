"""Seeded benchmark inputs from ``fixtures.gen_transcripts.generate``.

The same (shape, seed) gives byte-identical parquet files: rows come from
the generator's numpy ``default_rng(seed)`` and are written in a fixed
order with fixed writer options. Every run writes its inputs afresh into
its own work directory; nothing is cached between runs.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.gen_transcripts import _transcripts_table, generate

_SENT_BOUNDARY = re.compile(r"(?<=[.!?])\s+")


@dataclass(frozen=True)
class Shape:
    turns: int  # at least this many turns, whole conversations
    giant_turns: int


def corpus(shape: Shape, seed: int) -> tuple[list[dict], list[dict]]:
    """(rows, gazetteer). The generator's conversations are kept in order
    until ``shape.turns`` is reached, so every seed feeds about the same
    amount of work (the Zipf draws alone move it by ~10%); the last
    conversation, which holds the late-turn rows, is kept too. Short user
    turns (first sentence only) sit beside the generator's 1-3 sentence
    assistant turns; the planted duplicate, the giant conversation
    ``c000000`` and the hub entity are kept."""
    n_conv = shape.turns // 2
    gaz, rows, _gold = generate(n_conv, shape.giant_turns, seed=seed)
    per_conv: dict[str, int] = {}
    for r in rows:
        per_conv[r["conv_id"]] = per_conv.get(r["conv_id"], 0) + 1
    last = f"c{n_conv - 1:06d}"
    keep, total = {last}, per_conv[last]
    for conv in sorted(per_conv):
        if total >= shape.turns:
            break
        if conv not in keep:
            keep.add(conv)
            total += per_conv[conv]
    if total < shape.turns:
        raise ValueError(f"generator gave {total} turns, fewer than {shape.turns}")
    rows = [r for r in rows if r["conv_id"] in keep]
    for r in rows:
        if r["role"] == "user" and r["text"]:
            r["text"] = _SENT_BOUNDARY.split(r["text"], maxsplit=1)[0]
    return rows, gaz


def without_duplicate(rows: list[dict]) -> list[dict]:
    """Drop the planted duplicate (conv_id, turn_idx): keep the latest ts,
    as batch dedup would. The stream does not dedup, so it is fed the
    already-deduplicated turns."""
    latest: dict[tuple, dict] = {}
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        if key not in latest or r["ts"] > latest[key]["ts"]:
            latest[key] = r
    return [r for r in rows if latest[(r["conv_id"], r["turn_idx"])] is r]


def table(rows: list[dict]) -> pa.Table:
    return _transcripts_table(rows)


def write_table(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy", use_dictionary=True)


def write_batch_input(rows: list[dict], path: str) -> pa.Table:
    tbl = table(rows)
    write_table(tbl, path)
    return tbl


def write_drop_dir(rows: list[dict], drop_dir: str, n_files: int) -> list[pa.Table]:
    """Split turns in ts order into ``n_files`` parquet drops, late-turn
    rows (``snapshot == 1``) appended to the last one. File mtimes are set
    in drop order so the file source reads them in that order. Returns
    the drops' tables in that order."""
    os.makedirs(drop_dir, exist_ok=True)
    on_time = sorted(
        (r for r in rows if r["snapshot"] == 0),
        key=lambda r: (r["ts"], r["conv_id"], r["turn_idx"]),
    )
    late = [r for r in rows if r["snapshot"] == 1]
    chunks = [list(c) for c in np.array_split(np.arange(len(on_time)), n_files)]
    drops = []
    for i, idx in enumerate(chunks):
        part = [on_time[j] for j in idx]
        if i == n_files - 1:
            part += late
        path = os.path.join(drop_dir, f"drop-{i:03d}.parquet")
        drops.append(table(part))
        write_table(drops[-1], path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return drops


def properties(rows: list[dict], gaz: list[dict], n_files: int) -> dict:
    """What the run fed in: sizes and the skew the generator planted."""
    sents = [
        s
        for r in rows
        if r["role"] in ("user", "assistant") and r["text"]
        for s in _SENT_BOUNDARY.split(r["text"])
        if s
    ]
    lengths: dict[str, int] = {}
    for r in rows:
        lengths[r["conv_id"]] = lengths.get(r["conv_id"], 0) + 1
    conv_len = np.array(sorted(lengths.values()))
    hub = next(e for e in gaz if e["ent_type"] == "Org")
    hub_hits = sum(any(a in s for a in hub["aliases"]) for s in sents)
    return {
        "turns": len(rows),
        "sentences": len(sents),
        "distinct_sentence_share": round(len(set(sents)) / max(len(sents), 1), 4),
        "conv_len_p50": float(np.median(conv_len)),
        "conv_len_max": int(conv_len.max()),
        "giant_conv_turns": lengths.get("c000000", 0),
        "hub_share": round(hub_hits / max(len(sents), 1), 4),
        "files": n_files,
    }


def sentences(rows: list[dict]) -> list[list[str]]:
    """Token lists of every extractable sentence (the model's input)."""
    from antnre_spark.extract import _jvm_tokens

    return [
        _jvm_tokens(s)
        for r in rows
        if r["role"] in ("user", "assistant") and r["text"]
        for s in _SENT_BOUNDARY.split(r["text"])
        if s
    ]
