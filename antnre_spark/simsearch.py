"""Similarity search over embedding columns (array<double>; the batch
paths and ivf_index widen other numeric element types with a cast).

- brute-force cosine top-k: exact baseline. One query (cosine_topk) is
  JVM-side arithmetic (zip_with + aggregate) with TakeOrderedAndProject
  for the top-k; a query table (cosine_topk_batch) scores every row in
  the shared numpy kernel. Scales as a full scan: right answer for
  one-off queries and for verifying the approximate paths.
- LSH-bucketed top-k: random-hyperplane buckets (shared with
  dedup.cosine_dup_pairs); probes only the query's bucket (optionally
  multi-probe neighbors at Hamming distance 1) — the 100 TB path where a
  full scan per query is not affordable.
- IVF top-k: k-means cells; probes the nprobe cells nearest the query.

The three batch functions (cosine_topk_batch, bucketed_topk_batch,
ivf_topk_batch) share one implementation, _batch_topk: a bounded query
collect, one mapInPandas scoring kernel, one JVM round + window rank.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from antnre_spark.hashing import plane_weights
from antnre_spark.schema import local_frame

# Largest query table the batch top-k functions accept. The queries are
# collected to the driver and shipped to every scoring task, so the table
# must stay bounded; 20x the ~500-query table of the sf1.0
# ss_ivf_topk_batch demo.
MAX_BATCH_QUERIES = 10_000


def _dot_with_lit(vec: Column, query: list[float]) -> Column:
    qlit = F.array(*[F.lit(float(x)) for x in query])
    return F.aggregate(
        F.zip_with(vec, qlit, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))


def _query_norm(vec: Column) -> Column:
    """Query-side norm with the zero guard the single-query paths apply
    driver-side (``math.sqrt(...) or 1.0``): an all-zero query vector
    yields cosine 0.0 rows, not NaNs that Spark sorts above every real
    neighbor."""
    n = _norm(vec)
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k vs a literal query vector; ties -> lowest id."""
    import math

    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    v = F.col(vec_col)
    cos = _dot_with_lit(v, query) / (_norm(v) * F.lit(qn))
    return (
        df.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k for EVERY row of a query table:
    each row of ``df`` is scored against each query (no probe keys) —
    the exact baseline the ANN batch paths are judged against. The work
    is |queries| x |df| dot products, but no pair is materialized: each
    batch ships back only a margin superset of the rounded top-k
    (_batch_topk). ``queries`` holds (query_id, <vec_col>) rows; returns
    (query_id, id, cosine, rank), rank 1..k. Query rows with a NULL vector or a NULL element are dropped; queries
    of different lengths raise ValueError."""
    return _batch_topk(
        df, None, queries, None, None, k, id_col, vec_col, "query_id"
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Deterministic random-hyperplane sign bucket (no UDF): one character
    per plane, '1' iff vec . w_p >= 0. ``planes`` comes from
    hashing.plane_weights — plain float literals, so the identical bucket
    expression is writable in any engine (the DuckDB oracle embeds the same
    repr() literals). vec length must equal the plane dimension."""

    def plane_dot(w: list[float]) -> Column:
        wlit = F.array(*[F.lit(float(x)) for x in w])
        return F.aggregate(
            F.zip_with(vec, wlit, lambda x, wv: x * wv),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    return F.concat_ws(
        "",
        *[F.when(plane_dot(w) >= 0, "1").otherwise("0") for w in planes],
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """One tiny job to read the vector width when the caller doesn't know
    it (null rows skipped). Prefer passing ``dim`` explicitly in
    production plans — this probe executes the upstream plan once."""
    row = (
        df.select(F.size(F.col(vec_col)).alias("d"))
        .filter(F.col("d").isNotNull() & (F.col("d") > 0))
        .first()
    )
    if row is None:
        raise ValueError(
            f"cannot infer dim: no non-null {vec_col} rows — pass dim="
        )
    return int(row["d"])


def bucketed_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Materializable ANN index: (bucket, id, vec, norm). Write this
    partitioned by bucket; queries prune to one partition.

    Null and zero-norm vectors are EXCLUDED: a zero vector has no
    direction, so no cosine neighbor rank — and under ANSI mode (Spark 4
    default) its norm-0 row would turn every query that probes its
    bucket into a divide-by-zero job failure."""
    planes = plane_weights(dim or _infer_dim(df, vec_col), n_planes)
    v = F.col(vec_col)
    return (
        df.filter(v.isNotNull())
        .select(
            hyperplane_bucket(v, planes).alias("bucket"),
            F.col(id_col),
            v.alias(vec_col),
            _norm(v).alias("norm"),
        )
        .filter(F.col("norm") > 0.0)
    )


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """IVF coarse quantizer: seeded Lloyd k-means over a DETERMINISTIC
    HASH sample — the sample_size rows with the smallest md5(id) values.
    Hash order is reproducible across runs, partitionings AND engines
    (DuckDB md5 is identical, so the oracle twin reconstructs the exact
    sample), and unlike an orderBy(id).limit(n) sample it is UNBIASED: low
    ids are whatever rows were ingested first, md5 order is uniform over
    the corpus, so the sample sees the true density. Execution shape is
    TakeOrdered: each scan task keeps a sample_size-row heap and only
    those heaps travel to the driver — one pass, no shuffle, O(tasks *
    sample_size) driver merge; at 100 TB pre-filter with
    curate.deterministic_sample (same md5 family, pushed to the scan) so
    the heaps run over a thin slice instead of every row.

    Centroids come back as plain floats rounded to 6 decimals so the
    SAME literals drive assignment in Spark, DuckDB, and the python
    probe computation. Driver-side numpy Lloyd on the bounded sample;
    for a corpus-scale refresh run refine_centroids (distributed
    assignment + groupBy(cell) means) on the result.
    """
    import numpy as np

    rows = (
        df.orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col)
        )
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return kmeans_from_points(X, n_centroids, iters, seed)


def refine_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    rounds: int = 1,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd refresh: re-estimate each centroid as the mean
    of ALL vectors assigned to its cell (assignment by the same ivf_cell
    literal expression the index uses). This is the corpus-scale training
    path the sample-only quantizer lacks: the 256-row sample fixes the
    topology, >=1 full-data round moves centroids to the true cell means
    a sample cannot represent at 100 TB.

    Cost per round: one scan + one groupBy(cell) shuffle of dim partial
    sums per cell (map-side combined — bytes shuffled are O(cells * dim *
    tasks), never O(rows)). Empty cells keep their previous centroid.

    Determinism note: double addition is not associative, so cross-
    partitioning runs can differ in the last ulp before the 6-decimal
    round; same-layout runs are exactly reproducible. The driver-demo
    oracle therefore pins refine rounds to 0; this path is for real
    corpora where quantizer quality beats last-ulp reproducibility."""
    dim = len(centroids[0])
    cents = [list(c) for c in centroids]
    # only full-dimension, non-null vectors participate: a null embedding
    # would yield a null cell (driver TypeError on cents[None - 1]) and a
    # short vector makes F.element_at(v, i+1) throw under ANSI mode —
    # same hygiene as cosine_dup_pairs_banded's nrm > 0 pre-filter
    clean = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )
    for _ in range(rounds):
        v = F.col(vec_col)
        agg = (
            clean.select(ivf_cell(v, cents).alias("cell"), v.alias("v"))
            .groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.sum(F.element_at("v", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        for r in agg:
            if r["cell"] is None or not r["n"]:
                continue
            cents[r["cell"] - 1] = [
                round(float(r[f"s{i}"] / r["n"]), 6) for i in range(dim)
            ]
    return cents


def kmeans_from_points(
    X, n_centroids: int = 16, iters: int = 10, seed: int = 42
) -> list[list[float]]:
    """numpy Lloyd core (no Spark) — shared by kmeans_centroids and the
    DuckDB oracle builder so both derive bit-identical centroids from the
    same sample."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    if len(X) < n_centroids:
        raise ValueError(f"sample ({len(X)}) smaller than n_centroids")
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), n_centroids, replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # [n, K]
        assign = d.argmin(axis=1)
        for k in range(n_centroids):
            members = X[assign == k]
            if len(members):
                C[k] = members.mean(axis=0)
    return [[round(float(x), 6) for x in c] for c in C]


def _double_array(values, ddl: str) -> Column:
    """(Nested) double array literal of type ``ddl``, parsed from ONE
    JSON string: an F.lit per element is a JVM round trip each, and an
    ``array(...)`` SQL text is as slow to analyze. json.dumps writes each
    double as its repr(), which parses back to the same double."""
    return F.from_json(F.lit(json.dumps(values)), ddl)


def _sq_dists(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of squared L2 distances to each centroid via
    ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2 — the exact formula the DuckDB
    oracle uses (list_sum/list_dot_product), so the argmin cell assignment
    is bit-identical across engines.

    Kept in the compact higher-order-function form ON PURPOSE: an
    unrolled 16-centroid x 64-dim chain is ~2000 expression nodes that
    the optimizer re-walks per action and janino must compile per plan —
    measured as tens of seconds of driver-side planning at sf1.0. The
    HOF form is interpreted but tiny, and the corpus-side cell
    assignment runs in the ivf_index numpy kernel instead; this
    expression only runs on bounded query sets (ivf_probe_cells in the
    batch query collect) and in refine_centroids. The centroids enter as
    one array literal (_double_array), not one F.lit per element, which
    took ~0.5 s to build for 16 x 64."""
    vv = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)
    cents = _double_array(
        [[float(x) for x in c] for c in centroids], "array<array<double>>"
    )
    ccs = _double_array(
        [float(sum(x * x for x in c)) for c in centroids], "array<double>"
    )

    def dist(c: Column, cc: Column) -> Column:
        dot = F.aggregate(
            F.zip_with(vec, c, lambda x, w: x * w),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return vv - 2 * dot + cc

    return F.zip_with(cents, ccs, dist)


def ivf_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """1-based index of the nearest centroid (ties -> lowest index, the
    first-position rule both engines share)."""
    d = _sq_dists(vec, centroids)
    return F.array_position(d, F.array_min(d)).cast("int")


def _fold_dots(X, W):
    """[n, d] x [m, d] -> [n, m] dot products in the EXACT left-fold
    summation order of the Spark expression
    ``F.aggregate(F.zip_with(...), lit(0.0), acc + x)``: one vectorized
    elementwise pass per dimension, sequential across dimensions.
    Bit-identical to the JVM fold — unlike BLAS matmul, whose summation
    order (blocking, FMA) is unspecified."""
    import numpy as np

    acc = np.zeros((X.shape[0], W.shape[0]), dtype=np.float64)
    for i in range(X.shape[1]):
        acc += X[:, i, None] * W[None, :, i]
    return acc


def _fold_sumsq(X):
    """[n, d] -> [n] sum of squares in exact fold order (see _fold_dots)."""
    import numpy as np

    acc = np.zeros(X.shape[0], dtype=np.float64)
    for i in range(X.shape[1]):
        acc += X[:, i] * X[:, i]
    return acc


def _py_fold_sumsq(vals) -> float:
    """Scalar twin of _fold_sumsq for odd-length rows (python floats ARE
    IEEE doubles, so the fold is the same arithmetic)."""
    acc = 0.0
    for x in vals:
        acc = acc + float(x) * float(x)
    return acc


def ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materializable IVF index: (cell, id, vec, norm). Write partitioned
    by cell; a query prunes to nprobe cells. Complements the hyperplane-LSH
    index: IVF cells adapt to the data distribution (k-means), LSH buckets
    are data-independent — at 100 TB you pick per corpus shape.

    Cell assignment + norm run as a numpy mapInPandas kernel, not as the
    16-centroid interpreted ivf_cell/_norm expressions: the same values
    (exact fold order, _fold_dots), ~50x less per-row cost and no giant
    expression tree for the optimizer to re-walk. Vectors are widened to
    array<double> first. NULL vectors, vectors with a NULL element and
    zero vectors are excluded by the ``norm > 0.0`` filter, same
    reasoning as bucketed_index: a NULL element reaches the kernel as
    NaN, and the NaN norm comes back as NULL (the pandas->Arrow
    conversion treats NaN as missing), as the _norm expression gives
    it. Rows whose vector length differs from the centroid dim get cell
    NULL (never probed) and their own-length norm, as the expressions
    give them: a NULL dot poisons every distance, and the norm fold runs
    over the row's own elements."""
    import math

    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    v = F.col(vec_col).cast("array<double>")
    dim = len(centroids[0])
    clean = df.filter(v.isNotNull()).select(id_col, v.alias(vec_col))
    C = np.array(centroids, dtype=np.float64)
    # the exact ||c||^2 literals _sq_dists embeds (python sum() is the
    # same left fold)
    cc = np.array([sum(x * x for x in c) for c in centroids], dtype=np.float64)
    out_schema = StructType(
        [
            StructField("cell", IntegerType(), True),
            clean.schema[id_col],
            clean.schema[vec_col],
            StructField("norm", DoubleType(), True),
        ]
    )

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vecs = pdf[vec_col]
            n = len(vecs)
            lens = np.fromiter((len(x) for x in vecs), dtype=np.int64, count=n)
            cell = np.full(n, -1, dtype=np.int64)
            norm = np.empty(n, dtype=np.float64)
            main = lens == dim
            if main.any():
                X = np.stack([np.asarray(x, dtype=np.float64) for x in vecs[main]])
                vv = _fold_sumsq(X)
                with np.errstate(invalid="ignore"):
                    d = (vv[:, None] - 2.0 * _fold_dots(X, C)) + cc[None, :]
                    cell[main] = np.argmin(d, axis=1) + 1
                    norm[main] = np.sqrt(vv)
            for j in np.flatnonzero(~main):
                norm[j] = math.sqrt(_py_fold_sumsq(vecs.iloc[j]))
            yield pd.DataFrame(
                {
                    "cell": pd.array(
                        [int(c) if c > 0 else None for c in cell],
                        dtype="Int32",
                    ),
                    id_col: pdf[id_col].values,
                    vec_col: vecs.values,
                    "norm": norm,
                }
            )

    return clean.mapInPandas(assign, out_schema).filter(F.col("norm") > 0.0)


def ivf_topk(
    index: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: scan only the nprobe cells nearest the query (probe
    set computed driver-side from the same centroid literals) and rank by
    exact cosine."""
    import math

    qv = [float(x) for x in query]
    vv = sum(x * x for x in qv)
    dists = []
    for ci, c in enumerate(centroids):
        dot = sum(x * w for x, w in zip(qv, c))
        cc = sum(x * x for x in c)
        dists.append((vv - 2 * dot + cc, ci + 1))
    probes = [cell for _d, cell in sorted(dists)[:nprobe]]

    qn = math.sqrt(vv) or 1.0
    cand = index.filter(F.col("cell").isin(probes))
    cos = _dot_with_lit(F.col(vec_col), qv) / (F.col("norm") * F.lit(qn))
    return (
        cand.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_probe_cells(
    vec: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """Array of the ``nprobe`` cell ids (1-based) nearest to ``vec`` —
    the same squared-distance literals the index uses, ranked by
    (distance asc, cell id asc). Pure column math: the struct sort orders
    by field position, so ties break to the lower cell id in every
    engine (the DuckDB oracle ranks with row_number() over the identical
    distance list)."""
    d = _sq_dists(vec, centroids)
    pairs = F.transform(
        d,
        lambda x, i: F.struct(
            x.alias("d"), (i + F.lit(1)).cast("int").alias("c")
        ),
    )
    return F.transform(
        F.slice(F.array_sort(pairs), 1, nprobe), lambda s: s["c"]
    )


def _batch_topk(
    rows: DataFrame,
    key_col: str | None,
    queries: DataFrame,
    probes: Callable[[Column], Column] | None,
    dim: int | None,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Per-query exact cosine top-k of a query table against ``rows`` —
    the one implementation behind cosine_topk_batch, ivf_topk_batch and
    bucketed_topk_batch. Returns (query_id, id, cosine, rank), rank 1..k.

    1. Query collect: the query rows with a complete vector (non-NULL, no
       NULL element, ``dim`` elements unless ``dim`` is None) are
       collected once as (query_id, vector, _query_norm, probe keys).
       ``probes`` maps the query vector column to its array of keys in
       ``key_col`` (IVF cells, LSH buckets); with ``probes`` None every
       row is scored against every query. The queries are the bounded
       side by design: more than MAX_BATCH_QUERIES usable rows raise
       ValueError, and so do queries of mixed lengths.
    2. Kernel: one mapInPandas pass over ``rows``. For each key present
       in a batch, that key's rows are scored against the queries that
       probe it, in the exact fold order of the Spark expression
       ``dot / (norm * query_norm)`` (_fold_dots: bit-identical doubles),
       a slice of queries at a time so that each working array holds at
       most 2**21 (row, query) cells.
       Per block and query only the rows whose UNROUNDED cosine is within
       ``margin`` of the block's k-th largest are shipped back — a
       superset of the global ``round(cosine, 6)`` top-k: round6 moves a
       value by at most ~5.1e-7, so c >= c' + 1.1e-6 forces round6(c) >
       round6(c'), and a dropped row has >= k rows with a strictly larger
       rounded cosine in its own block. A row without a cosine — a NULL
       vector, a NULL element, a length other than the queries' or a
       zero vector — scores NaN, which comes back as a NULL cosine (the
       pandas->Arrow conversion treats NaN as missing), as the Spark
       fold gives the first three. NULL sorts last, so a block ships
       NULL rows for a query only when it has fewer than k scored rows
       for it, and then only the lowest ids that can still rank.
    3. Ranking: F.round + row_number over (cosine desc, id asc) <= k in
       the JVM, so rounding and tie-breaks are Spark's own and the
       rank filter plans as WindowGroupLimit (each shuffle partition
       keeps k rows per query)."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType, StructField, StructType

    v = F.col(vec_col).cast("array<double>")
    usable = v.isNotNull() & F.forall(v, lambda x: x.isNotNull())
    if dim is not None:
        usable = usable & (F.size(v) == dim)
    cols = [F.col(query_id_col), v.alias("_qv"), _query_norm(v).alias("_qn")]
    if probes is not None:
        cols.append(probes(v).alias("_keys"))
    qrows = (
        queries.filter(usable)
        .select(*cols)
        .limit(MAX_BATCH_QUERIES + 1)
        .collect()
    )
    if len(qrows) > MAX_BATCH_QUERIES:
        raise ValueError(
            f"query table has more than MAX_BATCH_QUERIES={MAX_BATCH_QUERIES}"
            " usable rows; split it into smaller query tables"
        )
    if dim is None:
        dims = {len(r["_qv"]) for r in qrows}
        if len(dims) > 1:
            raise ValueError("mixed query dims unsupported — filter first")
        dim = dims.pop() if dims else 0
    Q = np.array([r["_qv"] for r in qrows], dtype=np.float64).reshape(
        len(qrows), dim
    )
    qn = np.array([r["_qn"] for r in qrows], dtype=np.float64)
    qids = np.array([r[query_id_col] for r in qrows])
    by_key: dict = {}
    for j, r in enumerate(qrows):
        for key in r["_keys"] if probes is not None else (None,):
            by_key.setdefault(key, []).append(j)
    by_key = {key: np.array(js) for key, js in by_key.items()}

    src = rows.select(*([key_col] if key_col else []), id_col, v.alias(vec_col))
    out_schema = StructType(
        [
            queries.schema[query_id_col],
            src.schema[id_col],
            StructField("cosine", DoubleType(), True),
        ]
    )
    margin = 1.1e-6

    def score(batches):
        import pandas as pd

        for pdf in batches:
            vecs = pdf[vec_col].values
            ids = pdf[id_col].values
            lens = np.fromiter(
                (-1 if x is None else len(x) for x in vecs),
                dtype=np.int64,
                count=len(vecs),
            )
            groups = (
                pdf.groupby(key_col).indices
                if key_col
                else {None: np.arange(len(pdf))}
            )
            out_q, out_i, out_c = [], [], []
            for key, at in groups.items():
                qjs = by_key.get(key)
                if qjs is None:
                    continue
                ok = lens[at] == dim
                if ok.any():
                    X = np.stack(vecs[at[ok]])
                    nn = np.sqrt(_fold_sumsq(X))[:, None]
                order = np.argsort(ids[at], kind="stable")
                nk = len(at) - k
                # score the block in query slices of <= 2**21 cells, so each
                # array below stays ~16 MB whatever the batch and query sizes
                step = max(1, (1 << 21) // len(at))
                for s in range(0, len(qjs), step):
                    qs = qjs[s : s + step]
                    c = np.full((len(at), len(qs)), np.nan)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        if ok.any():
                            c[ok] = _fold_dots(X, Q[qs]) / (nn * qn[qs][None, :])
                        nan = np.isnan(c)
                        if nk > 0:
                            part = np.where(nan, -np.inf, c)
                            part.partition(nk, axis=0)
                            keep = c >= part[nk] - margin
                        else:
                            keep = ~nan
                    if nan.any():
                        # per query, each NULL row's rank among its NULL rows
                        # in id order
                        nth = np.empty(c.shape, dtype=np.int64)
                        nth[order] = np.cumsum(nan[order], axis=0)
                        keep |= nan & (nth <= k - (~nan).sum(axis=0))
                    ri, qi = np.nonzero(keep)
                    out_q.append(qids[qs[qi]])
                    out_i.append(ids[at[ri]])
                    out_c.append(c[ri, qi])
            if out_q:
                yield pd.DataFrame(
                    {
                        query_id_col: np.concatenate(out_q),
                        id_col: np.concatenate(out_i),
                        "cosine": np.concatenate(out_c),
                    }
                )

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        src.mapInPandas(score, out_schema)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(F.col("cosine"), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk_batch(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Bulk ANN: kNN for EVERY row of a query table — the cross-corpus
    retrieval shape a training-data pipeline actually runs ("find the
    nearest corpus docs for each eval prompt"), which the single-vector
    ivf_topk cannot express without a driver loop.

    Plan shape (_batch_topk): each query's nprobe nearest cells come from
    ivf_probe_cells over the same centroid literals as the index,
    evaluated JVM-side in the bounded query collect; one mapInPandas
    kernel over the cell-keyed index scores each probed cell's rows
    against the queries probing it and ships back a margin superset of
    the rounded top-k; F.round + a row_number window (WindowGroupLimit)
    rank in the JVM. Cost grows with the rows of the probed cells, never
    with a queries x corpus product, and no (query, row) pair is
    materialized.

    Returns (query_id, id, cosine, rank), rank 1..k. Query rows with a
    NULL vector, a NULL element or a length other than the centroid dim
    are dropped (same hygiene as refine_centroids)."""
    return _batch_topk(
        index,
        "cell",
        queries,
        lambda qv: ivf_probe_cells(qv, centroids, nprobe),
        len(centroids[0]),
        k,
        id_col,
        vec_col,
        query_id_col,
    )


def bucketed_topk_batch(
    index: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """Bulk ANN over the hyperplane-LSH index (the data-INDEPENDENT twin
    of ivf_topk_batch): every query row is assigned its own bucket (and,
    with ``multiprobe``, all Hamming-1 neighbor buckets) via the same
    plane-weight literals the index used, and the bucket-keyed index rows
    are scored and ranked by the shared _batch_topk kernel — same plan
    shape as ivf_topk_batch. Returns (query_id, id, cosine, rank).
    Matches per-query ``bucketed_topk`` row-for-row
    (tests/test_dataops.py)."""
    planes = plane_weights(dim, n_planes)

    def probes(qv: Column) -> Column:
        qb = hyperplane_bucket(qv, planes)
        flips = [
            # flip bit i: prefix [1..i] + flipped char + suffix [i+2..]
            F.concat(
                F.substring(qb, 1, i),
                F.when(F.substring(qb, i + 1, 1) == "1", "0").otherwise("1"),
                F.substring(qb, i + 2, n_planes - i - 1),
            )
            for i in range(n_planes if multiprobe else 0)
        ]
        return F.array_distinct(F.array(qb, *flips))

    return _batch_topk(
        index, "bucket", queries, probes, dim, k, id_col, vec_col, query_id_col
    )


def bucketed_topk(
    index: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: scan only the query's bucket (+ Hamming-1 neighbor
    buckets when multiprobe) and rank by exact cosine."""
    import math

    planes = plane_weights(len(query), n_planes)
    # the query's bucket comes from evaluating the SAME column expression
    # on a 1-row DataFrame — guarantees formula identity with the index
    spark = index.sparkSession
    qdf = local_frame(spark, [(query,)], f"{vec_col} array<double>")
    qbucket = qdf.select(
        hyperplane_bucket(F.col(vec_col), planes).alias("b")
    ).first()["b"]
    probes = {qbucket}
    if multiprobe:
        for i in range(n_planes):
            flipped = qbucket[:i] + ("0" if qbucket[i] == "1" else "1") + qbucket[i + 1 :]
            probes.add(flipped)

    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    cand = index.filter(F.col("bucket").isin(*sorted(probes)))
    cos = _dot_with_lit(F.col(vec_col), query) / (F.col("norm") * F.lit(qn))
    return (
        cand.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )
