import hashlib
import os

from perfbench import inputs

SHAPE = inputs.Shape(turns=120, giant_turns=15)


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_same_seed_gives_byte_identical_batch_input(tmp_path):
    paths = []
    for i in range(2):
        rows, _gaz = inputs.corpus(SHAPE, seed=5)
        paths.append(str(tmp_path / f"in-{i}.parquet"))
        inputs.write_batch_input(rows, paths[-1])
    assert _digest(paths[0]) == _digest(paths[1])
    rows, _gaz = inputs.corpus(SHAPE, seed=6)
    other = str(tmp_path / "other.parquet")
    inputs.write_batch_input(rows, other)
    assert _digest(other) != _digest(paths[0])


def test_same_seed_gives_byte_identical_drop_dirs(tmp_path):
    listings = []
    for i in range(2):
        rows, _gaz = inputs.corpus(SHAPE, seed=5)
        drop = str(tmp_path / f"drops-{i}")
        inputs.write_drop_dir(inputs.without_duplicate(rows), drop, 4)
        listings.append([(n, _digest(os.path.join(drop, n)), os.stat(os.path.join(drop, n)).st_mtime)
                         for n in sorted(os.listdir(drop))])
    assert listings[0] == listings[1]
    assert len(listings[0]) == 4


def test_drop_dir_keeps_every_turn_and_puts_late_rows_last(tmp_path):
    rows, _gaz = inputs.corpus(SHAPE, seed=5)
    rows = inputs.without_duplicate(rows)
    drops = inputs.write_drop_dir(rows, str(tmp_path / "d"), 4)
    assert sum(d.num_rows for d in drops) == len(rows)
    late = {(r["conv_id"], r["turn_idx"]) for r in rows if r["snapshot"] == 1}
    last = set(zip(drops[-1]["conv_id"].to_pylist(), drops[-1]["turn_idx"].to_pylist()))
    assert late and late <= last


def test_duplicate_is_dropped_and_properties_describe_the_skew():
    rows, gaz = inputs.corpus(SHAPE, seed=5)
    deduped = inputs.without_duplicate(rows)
    assert len(deduped) == len(rows) - 1
    props = inputs.properties(deduped, gaz, n_files=4)
    assert props["turns"] == len(deduped)
    assert props["giant_conv_turns"] == SHAPE.giant_turns
    assert props["conv_len_max"] >= SHAPE.giant_turns
    assert 0 < props["distinct_sentence_share"] <= 1
    assert 0 < props["hub_share"] < 1
