import pandas as pd
import pytest

from perfbench import inputs, queries, verify
from perfbench.run import result_line
from perfbench.workloads import VOCAB, WEIGHTS

TRIPLES = pd.DataFrame(
    [
        ("Peop:ann", "Work_For", "Org:acme", 0.91, 3),
        ("Peop:bob", "Work_For", "Org:acme", 0.85, 1),
        ("Peop:cal", "Work_For", "Org:initech", 0.77, 2),
        ("Peop:ann", "Live_In", "Loc:gotham", 0.66, 1),
        ("Peop:cal", "Kill", "Peop:bob", 0.51, 1),
        ("Peop:cal", "Live_In", "Loc:metropolis", 0.70, 1),
        ("Org:acme", "OrgBased_In", "Loc:gotham", 0.88, 4),
        ("Org:initech", "OrgBased_In", "Loc:riverdale", 0.81, 1),
        ("Loc:gotham", "Located_In", "Loc:riverdale", 0.60, 1),
        ("Loc:riverdale", "Located_In", "Loc:metropolis", 0.60, 1),
        ("Loc:metropolis", "Located_In", "Loc:gotham", 0.60, 1),
    ],
    columns=["subj", "pred", "obj", "conf", "n_evidence"],
)


def _by_shape(seed=3):
    return {q["shape"]: q["spec"] for q in queries.sequence(TRIPLES, seed)}


def test_sequence_is_seeded_and_covers_every_shape():
    a = queries.sequence(TRIPLES, 3)
    assert a == queries.sequence(TRIPLES, 3)
    assert {q["shape"] for q in a} == set(queries.SHAPES)


def test_reference_results_on_a_hand_checked_graph():
    spec = _by_shape()
    exists = queries.expected(TRIPLES, spec["exists"])
    assert exists == [("Org:acme", "Peop:ann")]  # cal killed, bob has no home
    closure = {
        "patterns": [["?a", {"path": "Located_In", "min": 0, "max": "*"}, "Loc:gotham"]],
        "distinct": True,
    }
    assert sorted(queries.expected(TRIPLES, closure)) == [
        ("Loc:gotham",), ("Loc:metropolis",), ("Loc:riverdale",)]
    paths = queries.expected(TRIPLES, spec["path_1_3"])
    assert len(paths) == 9  # a 3-cycle: every ordered pair, self pairs included
    topk = dict(spec["topk"], having=["n_staff >= 2"])
    assert queries.expected(TRIPLES, topk) == [(2, "Org:acme")]


def test_a_corrupted_query_result_fails_its_check():
    for shape, spec in _by_shape().items():
        want = queries.expected(TRIPLES, spec)
        got = list(want)
        assert verify.rows_digest(got) == verify.rows_digest(want), shape
        corrupted = got[1:] if got else [tuple("x" for _ in queries.digest_columns(spec))]
        assert verify.rows_digest(corrupted) != verify.rows_digest(want), shape


def test_a_corrupted_triple_fails_the_oracle_check():
    rows, _gaz = inputs.corpus(inputs.Shape(turns=80, giant_turns=10), seed=4)
    triples = verify.oracle_triples(inputs.table(rows).to_pandas(), WEIGHTS, VOCAB)
    good = verify.triples_digest(triples)
    assert good == verify.triples_digest(triples.sample(frac=1.0, random_state=1))  # order-free
    corrupted = triples.copy()
    corrupted.loc[corrupted.index[0], "conf"] = float(corrupted["conf"].iloc[0]) + 1e-3
    assert verify.triples_digest(corrupted) != good
    assert verify.triples_digest(triples.iloc[1:]) != good


def test_memoized_model_gives_the_oracle_its_own_answer():
    rows, _gaz = inputs.corpus(inputs.Shape(turns=80, giant_turns=10), seed=4)
    turns = inputs.table(rows).to_pandas()
    plain = verify.triples_digest(verify.oracle_triples(turns, WEIGHTS, VOCAB))
    with verify.memoized_model():
        verify.oracle_triples(turns.iloc[: len(turns) // 2], WEIGHTS, VOCAB)
        memo = verify.triples_digest(verify.oracle_triples(turns, WEIGHTS, VOCAB))
    assert memo == plain


@pytest.mark.parametrize(
    "verdicts, correct, failed",
    [([True, True], True, 0), ([True, False, True], False, 1), ([False], False, 1)],
)
def test_failed_ops_are_counted_against_attempts(verdicts, correct, failed):
    line = result_line(verdicts, {})
    assert line == {"correct": correct, "attempted": len(verdicts), "failed": failed, "metrics": {}}
