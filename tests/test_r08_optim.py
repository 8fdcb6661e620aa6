"""Round-8 optimization twins: every operator whose INTERNALS changed
this round is pinned against its legacy execution path (or an inline
re-implementation of the r7 shape) for exact value equality — the
optimizations must be execution-only, bit-for-bit.

Covered: the ivf_index kernel and the shared batch top-k scoring kernel
(ivf_topk_batch, cosine_topk_batch) against inline Spark-expression
references, the single-pass minhash_dup_candidates pair generation,
word_ngrams with a pre-materialized token column, and the model's
char-feature memoization.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from antnre_spark import dedup, simsearch

FIX = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "data",
)


def _model():
    from antnre_spark.nnmodel import AntNREModel

    return AntNREModel.from_files(
        os.path.join(FIX, "weights.npz"), os.path.join(FIX, "vocab.json")
    )


def _rand_corpus(spark, n=160, dim=6, seed=7):
    rng = np.random.default_rng(seed)
    rows = [
        (i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


class TestIvfKernels:
    def test_ivf_index_arrow_matches_expression_path(self, spark):
        """cell / norm / survivor set of the numpy kernel must be BIT-
        identical to the ivf_cell/_norm Spark expressions, including a
        wrong-length row (NULL cell, own-length norm), a zero vector, a
        NULL vector and a vector with a NULL element (no positive norm,
        so dropped)."""
        df = _rand_corpus(spark)
        extra = spark.createDataFrame(
            [(900, [1.0, 2.0]), (901, [0.0] * 6), (902, None),
             (903, [1.0, None, 2.0, 3.0, 4.0, 5.0])],
            "vec_id: long, embedding: array<double>",
        )
        df = df.unionByName(extra)
        cents = simsearch.kmeans_centroids(df.filter("vec_id < 160"), n_centroids=4, sample_size=32)
        got = {
            r["vec_id"]: (r["cell"], r["norm"])
            for r in simsearch.ivf_index(df, cents).collect()
        }
        v = F.col("embedding")
        want = {
            r["vec_id"]: (r["cell"], r["norm"])
            for r in df.select(
                simsearch.ivf_cell(v, cents).alias("cell"),
                "vec_id",
                simsearch._norm(v).alias("norm"),
            )
            .filter(F.col("norm") > 0.0)
            .collect()
        }
        assert got == want  # exact float equality on purpose
        assert 900 in got and got[900][0] is None  # wrong-dim row kept, cell NULL
        assert not {901, 902, 903} & set(got)  # zero/null vectors dropped

    def test_ivf_topk_batch_arrow_matches_join_path(self, spark):
        """The scoring kernel must reproduce, bit for bit, the equi-join
        of the per-query probe cells (ivf_probe_cells, exploded) against
        the cell-keyed index, scored by the Spark fold expression."""
        from pyspark.sql import Window

        df = _rand_corpus(spark, n=200, seed=11)
        cents = simsearch.kmeans_centroids(df, n_centroids=4, sample_size=32)
        idx = simsearch.ivf_index(df, cents)
        queries = df.filter(F.col("vec_id") % 17 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = sorted(
            tuple(r)
            for r in simsearch.ivf_topk_batch(
                idx, queries, cents, k=4, nprobe=2
            ).collect()
        )
        qv = F.col("embedding")
        q = queries.select(
            "query_id",
            qv.alias("_qv"),
            simsearch._query_norm(qv).alias("_qn"),
            F.explode(simsearch.ivf_probe_cells(qv, cents, 2)).alias("cell"),
        )
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), F.col("_qv"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        want = sorted(
            tuple(r)
            for r in q.join(idx, "cell")
            .select(
                "query_id",
                "vec_id",
                F.round(dot / (F.col("norm") * F.col("_qn")), 6).alias("cosine"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 4)
            .collect()
        )
        assert got == want and got

    def test_cosine_scores_pruned_matches_crossjoin_topk(self, spark):
        """cosine_topk_batch (kernel + JVM round/window) must reproduce
        the crossJoin exact top-k row-for-row (the superset-margin proof
        in practice), including rounded-cosine ties broken by vec_id. A
        wrong-length corpus row has a NULL cosine in the crossJoin: it
        must rank last, not vanish, when k exceeds the valid rows."""
        from pyspark.sql import Window

        df = _rand_corpus(spark, n=150, seed=23)
        queries = df.filter(F.col("vec_id") % 29 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        df = df.unionByName(
            spark.createDataFrame(
                [(900, [1.0, 2.0])], "vec_id: long, embedding: array<double>"
            )
        )
        n_queries = queries.count()
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        # crossJoin + interpreted folds, the reference
        q2 = queries.select(
            F.col("query_id"),
            F.col("embedding").alias("_qv"),
            simsearch._norm(F.col("embedding")).alias("_qn"),
        )
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), F.col("_qv"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        pairs = q2.crossJoin(
            df.select(
                "vec_id",
                "embedding",
                simsearch._norm(F.col("embedding")).alias("_n"),
            )
        ).select(
            "query_id",
            "vec_id",
            F.round(dot / (F.col("_n") * F.col("_qn")), 6).alias("cosine"),
        )
        for k in (5, 160):
            got = sorted(
                (r["query_id"], r["vec_id"], r["cosine"], r["rank"])
                for r in simsearch.cosine_topk_batch(df, queries, k=k).collect()
            )
            want = sorted(
                (r["query_id"], r["vec_id"], r["cosine"], r["r"])
                for r in pairs.withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= k)
                .collect()
            )
            assert got == want and len(got) == n_queries * min(k, 151)
        assert all(
            (c is None) == (i == 900) and (i != 900 or r == 151)
            for _q, i, c, r in got
        )

    def test_fold_dots_matches_spark_fold_bitwise(self, spark):
        """_fold_dots/_fold_sumsq vs the JVM aggregate fold on awkward
        magnitudes — exact equality, no tolerance."""
        rng = np.random.default_rng(3)
        vals = (rng.standard_normal((8, 16)) * 10.0 ** rng.integers(-6, 6, (8, 16))).tolist()
        q = (rng.standard_normal(16) * 1e3).tolist()
        df = spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(vals)],
            "vec_id: long, embedding: array<double>",
        )
        jvm = {
            r["vec_id"]: (r["d"], r["n"])
            for r in df.select(
                "vec_id",
                simsearch._dot_with_lit(F.col("embedding"), q).alias("d"),
                simsearch._norm(F.col("embedding")).alias("n"),
            ).collect()
        }
        X = np.array(vals, dtype=np.float64)
        Q = np.array([q], dtype=np.float64)
        dots = simsearch._fold_dots(X, Q)[:, 0]
        norms = np.sqrt(simsearch._fold_sumsq(X))
        for i in range(len(vals)):
            assert jvm[i][0] == dots[i] and jvm[i][1] == norms[i]


class TestMinhashSinglePass:
    def test_pairs_match_r7_self_join_shape(self, spark):
        docs = spark.createDataFrame(
            [
                (i, f"the quick brown fox {i % 7} jumps over the lazy dog")
                for i in range(60)
            ]
            + [(100 + i, "tiny") for i in range(3)],
            "doc_id: long, text: string",
        )
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_dup_candidates(docs, max_bucket=16).collect()
        )
        # r7 shape: sizes join + band self-join
        signed = dedup.minhash_signed_bands(docs)
        sizes = signed.groupBy("band").agg(F.count("*").alias("n"))
        bounded = signed.join(sizes.filter(F.col("n") <= 16), "band").drop("n")
        a = bounded.select(F.col("id").alias("id_a"), "band")
        b = bounded.select(F.col("id").alias("id_b"), "band")
        want = sorted(
            (r["id_a"], r["id_b"])
            for r in a.join(b, "band")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .collect()
        )
        assert got == want and got

    def test_word_ngrams_pretokenized_matches_inline(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "x y"), (3, ""), (4, "one two three four")],
            "doc_id: long, text: string",
        )
        norm = dedup.normalize_text(F.col("text"))
        inline = docs.select(
            "doc_id", F.sort_array(dedup.word_ngrams(norm)).alias("g")
        )
        pre = (
            docs.select("doc_id", norm.alias("nt"))
            .select("doc_id", "nt", F.split("nt", " ").alias("toks"))
            .select(
                "doc_id",
                F.sort_array(
                    dedup.word_ngrams(F.col("nt"), toks=F.col("toks"))
                ).alias("g"),
            )
        )
        assert sorted(map(tuple, inline.collect())) == sorted(
            map(tuple, pre.collect())
        )


class TestModelMemo:
    def test_char_feats_cache_bitwise_stable(self):
        m = _model()
        toks = ["alpha", "Beta", "", "alpha", "überlong-token-xyz"]
        first = m._char_feats(toks)
        assert set(m._char_cache) >= set(toks)
        second = m._char_feats(toks)
        assert np.array_equal(first, second)
        # cached rows equal a fresh, cache-free model's rows
        assert np.array_equal(first, _model()._char_feats(toks))

    def test_char_cache_bounded_on_insert(self, monkeypatch):
        """The bound holds on every insert, not once per call: one call
        with 10 distinct tokens under a cap of 3 never holds more than 3
        rows (oldest evicted first), and every row — and every extracted
        mention/relation — is bit-identical to a fresh model's."""
        from collections import OrderedDict

        from antnre_spark.nnmodel import AntNREModel

        toks = [f"tok{i}" for i in range(10)]
        sents = [toks[:6], toks[4:], toks[::-1], ["John", "works", "at", "Acme"]]
        fresh = _model()
        want_rows = fresh._char_feats(toks)
        want_out = fresh.extract(sents)

        peak = [0]

        class Recording(OrderedDict):
            def __setitem__(self, key, value):
                super().__setitem__(key, value)
                peak[0] = max(peak[0], len(self))

        monkeypatch.setattr(AntNREModel, "CHAR_CACHE_MAX", 3)
        m = _model()
        m._char_cache = Recording()
        got_rows = m._char_feats(toks)
        assert list(m._char_cache) == toks[-3:]
        assert np.array_equal(got_rows, want_rows)
        assert np.array_equal(m._char_feats(toks[::-1]), want_rows[::-1])
        assert m.extract(sents) == want_out
        assert 0 < peak[0] <= 3

    def test_encode_full_ids_match_token_ids(self):
        m = _model()
        batch = [["John", "works", "at", "Acme"], ["short"], []]
        _res, ids = m._encode_full(batch)
        for toks, got in zip(batch, ids):
            assert np.array_equal(got, m._token_ids(toks))
