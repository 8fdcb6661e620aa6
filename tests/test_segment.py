"""D-operators: sentence split, tokenization, vocabulary (SURVEY.md §2.D)."""

from __future__ import annotations

import pytest

from antnre_spark import segment
from antnre_spark.schema import TRANSCRIPTS


@pytest.fixture()
def turns(spark):
    from datetime import datetime, timezone

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        ("c1", 0, "user", "First one . Second here ! Third ?", None, t0),
        ("c1", 1, "user", "only one sentence .", None, t0),
    ]
    return spark.createDataFrame(rows, TRANSCRIPTS)


class TestSegmentTurns:
    def test_sentence_split_and_indices(self, turns):
        out = segment.segment_turns(turns).collect()
        got = {
            (r["conv_id"], r["turn_idx"], r["sent_idx"]): r["tokens"]
            for r in out
        }
        assert got[("c1", 0, 0)] == ["First", "one", "."]
        assert got[("c1", 0, 1)] == ["Second", "here", "!"]
        assert got[("c1", 0, 2)] == ["Third", "?"]
        assert got[("c1", 1, 0)] == ["only", "one", "sentence", "."]

    def test_char_offsets_roundtrip(self, turns):
        text = "First one . Second here ! Third ?"
        out = segment.segment_turns(turns).filter("turn_idx = 0").collect()
        for r in out:
            assert text[r["char_begin"] : r["char_end"]] == " ".join(r["tokens"])


class TestBuildVocab:
    def test_ids_deterministic_and_ranked(self, turns, spark):
        sents = segment.segment_turns(turns)
        vocab = {r["token"]: (r["id"], r["freq"]) for r in segment.build_vocab(sents).collect()}
        # "one" and "." appear twice -> lowest ids; tie by token asc: "." < "one"
        assert vocab["."][1] == 2 and vocab["one"][1] == 2
        assert vocab["."][0] == 2 and vocab["one"][0] == 3  # ids start at 2 (PAD=0, UNK=1)

    def test_min_freq_prunes(self, turns):
        sents = segment.segment_turns(turns)
        vocab = segment.build_vocab(sents, min_freq=2)
        assert {r["token"] for r in vocab.collect()} == {".", "one"}

