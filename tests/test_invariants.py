"""Order/partitioning invariance + property-based robustness
(SURVEY.md §5.2.4, §5.2.6)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from antnre_spark import assemble, extract, segment
from antnre_spark.schema import TRANSCRIPTS


@pytest.fixture(scope="module")
def model_bcs(spark, fixture_paths):
    return extract.broadcast_model(
        spark, fixture_paths["weights"], fixture_paths["vocab"]
    )


def run_extraction(spark, transcripts, model_bcs, partitions):
    w_bc, v_bc, key = model_bcs
    base = assemble.dedup_turns(transcripts).repartition(partitions)
    turns = assemble.filter_extractable(base)
    sentences = segment.segment_turns(turns)
    extracted = extract.extract_sentences(sentences, w_bc, v_bc, model_key=key)
    mentions = extract.explode_mentions(extracted)
    return {tuple(r) for r in mentions.collect()}


class TestPartitionInvariance:
    def test_extraction_same_under_1_vs_16_partitions(
        self, spark, transcripts_df, model_bcs
    ):
        """Changing partition count (and therefore Arrow batch composition)
        must not change a single emitted mention (SURVEY.md §7.3.2)."""
        sample = transcripts_df.filter(F.col("conv_id") < "c000020")
        a = run_extraction(spark, sample, model_bcs, 1)
        b = run_extraction(spark, sample, model_bcs, 16)
        assert a == b

    def test_token_budget_rechunk_invariance(
        self, spark, transcripts_df, model_bcs
    ):
        """A tiny token budget forces many in-UDF chunks; output must be
        identical to one big chunk (batch-composition invariance)."""
        w_bc, v_bc, key = model_bcs
        sample = assemble.filter_extractable(
            assemble.dedup_turns(
                transcripts_df.filter(F.col("conv_id") < "c000010")
            )
        )
        sentences = segment.segment_turns(sample)
        big = {
            tuple(r)
            for r in extract.explode_mentions(
                extract.extract_sentences(sentences, w_bc, v_bc, 10**9, key)
            ).collect()
        }
        small = {
            tuple(r)
            for r in extract.explode_mentions(
                extract.extract_sentences(sentences, w_bc, v_bc, 32, key)
            ).collect()
        }
        assert big == small


class TestFusedPathEquivalence:
    """extract_turns (segmentation + JVM-tokenizer replica fused into the
    model UDF) emits what the staged path and the JVM tokenizer give."""

    def test_fused_segmentation_equals_staged(
        self, spark, transcripts_df, model_bcs
    ):
        """extract_turns (segmentation folded INTO the model UDF — one
        Arrow hop) must emit exactly the rows of
        extract_sentences(segment_turns(...)) (two Python stages),
        mentions AND relations, including under a tiny token budget."""
        w_bc, v_bc, key = model_bcs
        sample = assemble.filter_extractable(
            assemble.dedup_turns(transcripts_df.filter(F.col("conv_id") < "c000015"))
        )
        staged = extract.extract_sentences(
            segment.segment_turns(sample), w_bc, v_bc,
            token_budget=64, model_key=key,
        )
        fused = extract.extract_turns(
            sample, w_bc, v_bc, token_budget=64, model_key=key
        )
        for explode in (extract.explode_mentions, extract.explode_relations):
            a = {tuple(r) for r in explode(staged).collect()}
            b = {tuple(r) for r in explode(fused).collect()}
            assert a == b and a

    def test_marginal_conf_mode_same_spans_different_conf(
        self, spark, transcripts_df, model_bcs
    ):
        """r5 E5 upgrade through the DISTRIBUTED path: conf_mode=
        'marginal' must emit the identical mention spans/types (decode is
        untouched) with confidences that are true CRF posteriors — some
        must differ from the local softmax values."""
        w_bc, v_bc, key = model_bcs
        sample = assemble.filter_extractable(
            assemble.dedup_turns(transcripts_df.filter(F.col("conv_id") < "c000010"))
        )
        loc = extract.explode_mentions(
            extract.extract_turns(sample, w_bc, v_bc, model_key=key)
        ).collect()
        marg = extract.explode_mentions(
            extract.extract_turns(
                sample, w_bc, v_bc, model_key=key, conf_mode="marginal"
            )
        ).collect()
        key_of = lambda r: (r["mention_id"],)
        a = {key_of(r): (r["begin"], r["end"], r["ent_type"], r["conf"]) for r in loc}
        b = {key_of(r): (r["begin"], r["end"], r["ent_type"], r["conf"]) for r in marg}
        assert a.keys() == b.keys() and a
        spans_equal = all(a[k][:3] == b[k][:3] for k in a)
        assert spans_equal
        assert any(a[k][3] != b[k][3] for k in a), "conf must actually change"
        assert all(0.0 <= b[k][3] <= 1.0 for k in b)

    def test_fused_tokenizer_matches_jvm_on_nasty_whitespace(
        self, spark, model_bcs
    ):
        """The fused path must reproduce the JVM tokenizer on inputs the
        clean fixtures never exercise: Spark `trim` strips only 0x20 and
        Java \\s is ASCII-only, so leading/trailing tabs keep EMPTY
        tokens and NBSP is NOT a separator. The r4 self-review found the
        naive python strip()/\\s version diverging here — this pins the
        exact-replica fix (mentions AND relations, full row equality)."""
        w_bc, v_bc, key = model_bcs
        from datetime import datetime

        from antnre_spark.schema import TRANSCRIPTS

        ts = datetime(2026, 1, 1)
        nasty = [
            ("w1", 0, "user", "\tJohn Smith works for Acme Corp .", None, ts),
            ("w2", 0, "user", "John Smith works for Acme Corp .\t", None, ts),
            ("w3", 0, "user", "John Smith works for Acme Corp .", None, ts),
            ("w4", 0, "user", "  John   Smith\nworks for Acme Corp . ", None, ts),
            ("w5", 0, "user", "John Smith lives in Gotham .\r\nAcme Corp is based in Gotham .", None, ts),
            ("w6", 0, "user", " ", None, ts),
        ]
        turns = assemble.filter_extractable(
            spark.createDataFrame(nasty, TRANSCRIPTS)
        )
        staged = extract.extract_sentences(
            segment.segment_turns(turns), w_bc, v_bc, model_key=key
        )
        fused = extract.extract_turns(turns, w_bc, v_bc, model_key=key)
        for explode in (extract.explode_mentions, extract.explode_relations):
            a = sorted(tuple(r) for r in explode(staged).collect())
            b = sorted(tuple(r) for r in explode(fused).collect())
            assert a == b

    def test_jvm_tokens_replica_on_random_whitespace_soup(self, spark):
        """_jvm_tokens vs the real JVM expression on 200 seeded random
        strings over an adversarial alphabet (tabs, newlines, CR, NBSP,
        vertical tab, form feed, punctuation, unicode letters): the
        python replica must produce byte-identical token arrays."""
        import random

        from antnre_spark.extract import _jvm_tokens

        rng = random.Random(99)
        alphabet = list(" \t\n\r\x0b\f\u00a0\u2009abcXYZ.!?'éüğ0")
        cases = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24)))
            for _ in range(200)
        ]
        df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], ["i", "s"])
        jvm = {
            r["i"]: list(r["t"])
            for r in df.select(
                "i", F.split(F.trim("s"), r"\s+").alias("t")
            ).collect()
        }
        for i, s in enumerate(cases):
            assert _jvm_tokens(s) == jvm[i], (i, repr(s))


ROLES = st.sampled_from(["user", "assistant", "tool", "system"])
WORDS = st.sampled_from(
    ["John", "Smith", "works", "for", "Acme", "Corp", ".", "hello", "?", "Gotham"]
)


@st.composite
def transcript_rows(draw):
    n = draw(st.integers(1, 12))
    rows = []
    for i in range(n):
        conv = f"c{draw(st.integers(0, 2))}"
        turn = draw(st.integers(0, 5))
        text = " ".join(draw(st.lists(WORDS, min_size=1, max_size=12)))
        secs = draw(st.integers(0, 10_000))
        rows.append(
            (
                conv,
                turn,
                draw(ROLES),
                text,
                None,
                datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=secs),
            )
        )
    return rows


class TestPropertyBased:
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=transcript_rows())
    def test_pipeline_never_crashes_and_schema_stable(
        self, spark, model_bcs, rows
    ):
        """Random tiny transcripts: extraction runs, schema is stable, every
        mention's provenance resolves to a real (conv_id, turn_idx)."""
        w_bc, v_bc, key = model_bcs
        df = spark.createDataFrame(rows, TRANSCRIPTS)
        base = assemble.dedup_turns(df)
        sentences = segment.segment_turns(assemble.filter_extractable(base))
        mentions = extract.explode_mentions(
            extract.extract_sentences(sentences, w_bc, v_bc, model_key=key)
        )
        assert mentions.columns == [
            "conv_id", "turn_idx", "sent_idx", "mention_id",
            "begin", "end", "ent_type", "surface", "conf",
        ]
        orphan = mentions.join(base, ["conv_id", "turn_idx"], "left_anti")
        assert orphan.count() == 0
