"""Output checks: triple digests against the oracle, query result digests.

Nothing here runs inside a timed region or inside set-up.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os

import pandas as pd
import pyarrow.parquet as pq

from antnre_spark.icelite import IceLite

TRIPLE_KEY = ("subj", "pred", "obj", "conf", "n_evidence")


def read_icelite(path: str, snapshot: int | None = None) -> pd.DataFrame | None:
    """A snapshot (default: the current one) of an IceLite table, read with
    pyarrow (no Spark): every manifest file, partition values from the
    manifest added as string columns."""
    table = IceLite(path)
    snap = table.current_snapshot() if snapshot is None else snapshot
    if snap is None:
        return None
    frames = []
    for f in table.manifest(snap)["files"]:
        pdf = pq.read_table(os.path.join(table.data_dir, f["path"])).to_pandas()
        for col, val in f["partitions"].items():
            if col not in pdf.columns:
                pdf[col] = val
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True) if frames else None


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\\N"
    if isinstance(v, float):
        return f"{v:.6f}"
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return str(v)


def rows_digest(rows) -> tuple[int, str]:
    """(row count, sha256 of the sorted rows) — order-free, floats to 6 dp."""
    lines = sorted("\t".join(_cell(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def triples_digest(triples: pd.DataFrame | None) -> tuple[int, str]:
    if triples is None or triples.empty:
        return rows_digest([])
    t = triples[list(TRIPLE_KEY)]
    return rows_digest(
        (s, p, o, float(c), int(n)) for s, p, o, c, n in t.itertuples(index=False)
    )


@contextlib.contextmanager
def memoized_model():
    """Within the block, ``AntNREModel.extract`` answers each distinct
    sentence once: the oracle is re-run over growing prefixes of a stream
    without re-extracting the prefix. Sound because the model decodes each
    sentence on its own (the same property the pipeline's oracle parity
    rests on)."""
    from antnre_spark.nnmodel import AntNREModel

    original = AntNREModel.extract
    memo: dict[tuple, object] = {}

    def extract(self, sentences, **kwargs):
        keys = [tuple(s) for s in sentences]
        todo = list(dict.fromkeys(k for k in keys if k not in memo))
        if todo:
            memo.update(zip(todo, original(self, [list(k) for k in todo], **kwargs)))
        return [memo[k] for k in keys]

    AntNREModel.extract = extract
    try:
        yield
    finally:
        AntNREModel.extract = original


def oracle_triples(turns: pd.DataFrame, weights: str, vocab: str) -> pd.DataFrame:
    from oracle.antnre_oracle import run_oracle

    return run_oracle(turns, weights, vocab).triples
