"""Deterministic string hashing / MinHash primitives (NO pyspark imports).

Shared by the Spark linking stage (inside pandas UDFs, antnre_spark/link.py)
and the single-process oracle (oracle/antnre_oracle.py) so both compute
bit-identical signatures — the LSH candidate set, and therefore the linking
decision, is then exactly reproducible across both (SURVEY.md §5.4).

All hashes are seeded universal hashes over crc32 gram codes: no Python
``hash()`` (PYTHONHASHSEED-dependent), no time, no randomness at call time.
"""

from __future__ import annotations

import zlib

import numpy as np

SEED = 42
MINHASH_K = 128  # signature length
LSH_BANDS = 32  # bands
LSH_ROWS = 4  # rows per band (K = BANDS * ROWS)
NGRAM = 3  # char n-gram size (padded)
PRIME = 2_147_483_647  # 2^31 - 1; a*x+b stays within int64

assert MINHASH_K == LSH_BANDS * LSH_ROWS

_rng = np.random.default_rng(SEED)
_A = _rng.integers(1, PRIME, size=MINHASH_K, dtype=np.int64)
_B = _rng.integers(0, PRIME, size=MINHASH_K, dtype=np.int64)


def char_ngrams(s: str, n: int = NGRAM) -> list[str]:
    """Padded char n-grams: '^^s$$' boundary markers sharpen the Jaccard
    separation between typo variants (~0.6+) and head-token decoys (~0.4)."""
    padded = "^" * (n - 1) + s + "$" * (n - 1)
    return [padded[i : i + n] for i in range(len(padded) - n + 1)]


def gram_codes(s: str, n: int = NGRAM) -> np.ndarray:
    """Sorted distinct int64 codes of the padded char n-grams (crc32)."""
    grams = set(char_ngrams(s, n))
    if not grams:
        grams = {s or "~"}
    codes = np.array(
        sorted(zlib.crc32(g.encode("utf-8")) & 0x7FFFFFFF for g in grams),
        dtype=np.int64,
    )
    return codes


def minhash_signature(codes: np.ndarray) -> np.ndarray:
    """k-permutation MinHash over gram codes: sig_i = min((a_i*x+b_i) mod p).
    Vectorized [k, G] -> [k]."""
    vals = (_A[:, None] * codes[None, :] + _B[:, None]) % PRIME  # [k, G]
    return vals.min(axis=1)


def minhash_signatures_bulk(
    code_arrays: list[np.ndarray], gram_budget: int = 200_000
) -> np.ndarray:
    """Vectorized MinHash for a whole Arrow batch of docs at once.

    Semantically identical to ``minhash_signature`` per doc (same _A/_B
    permutations — asserted in tests/test_link.py), but one [K, total_grams]
    matrix op + ``np.minimum.reduceat`` over doc boundaries replaces the
    per-doc Python loop. ``gram_budget`` chunks the batch so the temp
    matrix stays ~K*budget*8 bytes (~200 MB) regardless of batch size.

    Every code array must be non-empty (gram_codes/dedup guarantee a
    fallback gram for empty text).
    """
    n = len(code_arrays)
    out = np.empty((n, MINHASH_K), dtype=np.int64)
    lens = np.fromiter((len(a) for a in code_arrays), dtype=np.int64, count=n)
    if not (lens > 0).all():
        # a bare assert would be stripped under python -O, and an empty
        # code array silently corrupts the reduceat segment boundaries
        # (duplicate starts return vals[start] for the WRONG doc) — fail
        # loud instead, matching the empty-gram fallback contract above
        raise ValueError("minhash over an empty gram set is undefined")
    i = 0
    while i < n:
        j, total = i, 0
        while j < n and (total + lens[j] <= gram_budget or j == i):
            total += int(lens[j])
            j += 1
        concat = (
            np.concatenate(code_arrays[i:j]) if j - i > 1 else code_arrays[i]
        )
        starts = np.zeros(j - i, dtype=np.int64)
        np.cumsum(lens[i : j - 1], out=starts[1:])
        vals = (_A[:, None] * concat[None, :] + _B[:, None]) % PRIME
        out[i:j] = np.minimum.reduceat(vals, starts, axis=1).T
        i = j
    return out


def band_keys(sig: np.ndarray, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> list[str]:
    """LSH band keys: 'band_idx:h' where h = crc32 over the band's row
    values — a surface pair collides iff some band agrees on all rows."""
    out = []
    for b in range(bands):
        chunk = sig[b * rows : (b + 1) * rows]
        h = zlib.crc32(chunk.tobytes()) & 0xFFFFFFFF
        out.append(f"{b}:{h}")
    return out


def plane_weights(dim: int, n_planes: int = 8, seed: int = SEED) -> list[list[float]]:
    """Random-hyperplane weights for cosine LSH, as plain Python floats.

    Seeded Gaussian directions (the textbook SimHash-for-cosine choice —
    uniform over the sphere) rounded to 6 decimals so the SAME numeric
    literals can be embedded in a Spark expression (F.lit) and a DuckDB SQL
    string (repr round-trips exactly): both engines then compute
    bit-identical bucket keys. Used by dedup.cosine_dup_pairs and
    simsearch.bucketed_index + their oracle twins in __spark_entry__.py.
    """
    rng = np.random.default_rng(seed)
    w = rng.standard_normal((n_planes, dim))
    return [[round(float(x), 6) for x in row] for row in w]


def jaccard(codes_a: np.ndarray, codes_b: np.ndarray) -> float:
    """Exact Jaccard over sorted distinct gram-code arrays."""
    inter = np.intersect1d(codes_a, codes_b, assume_unique=True).size
    union = codes_a.size + codes_b.size - inter
    return float(inter) / float(union) if union else 0.0


# linking verification thresholds (single source of truth for Spark + oracle)
# merge iff J >= TAU_LO and (J >= TAU_HI or levenshtein <= LEV_MAX):
# char-gram Jaccard alone cannot separate typo variants (J down to ~0.50)
# from head-token decoys like "Twin Peaks"/"Twin Peaks Falls" (J up to
# ~0.58); edit distance does (typos <= 2, decoys >= 3).
TAU_LO = 0.45
TAU_HI = 0.75
LEV_MAX = 2


def levenshtein(a: str, b: str) -> int:
    """Classic edit distance — matches Spark's F.levenshtein exactly."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]

