"""Streaming KG job (SURVEY.md §2.J extension) — spark-submit entry.

spark-submit --py-files kg.zip jobs/extract_stream.py \
    --in <transcript parquet drop dir> --out <table root> --checkpoint <dir>

Watches the input directory for parquet drops and runs the incremental-KG
stream over them: per micro-batch, extraction + surface/partial merge +
linking + triple materialization (exactly-once via checkpoint +
idempotent sink), so triples_stream equals the batch link_job over the
same turns. Exits when caught up (availableNow trigger) after
materializing the tail, and prints the four table row counts.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from antnre_spark.session import get_spark  # noqa: E402
from antnre_spark.streaming import (  # noqa: E402
    kg_stream_tables,
    materialize_kg_stream,
    start_kg_stream,
)


def main() -> None:
    # no prefix matching: a stale ``--link`` must fail as unrecognized,
    # not be read as ``--link-every``
    ap = argparse.ArgumentParser(allow_abbrev=False)
    ap.add_argument("--in", dest="input_dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--weights", default="fixtures/data/weights.npz")
    ap.add_argument("--vocab", default="fixtures/data/vocab.json")
    ap.add_argument(
        "--link-every",
        type=int,
        default=1,
        help="run the merge/relink phase on every K-th batch only (the "
        "amortization knob); the tail is always materialized after the "
        "stream drains",
    )
    args = ap.parse_args()

    spark = get_spark("kg_extract_stream")
    q = start_kg_stream(
        spark, args.input_dir, args.out, args.weights, args.vocab,
        args.checkpoint, link_every=args.link_every,
    )
    q.awaitTermination()
    # bring the serving tables current regardless of where the last
    # link_every boundary fell (idempotent)
    tables = kg_stream_tables(args.out)
    materialize_kg_stream(spark, tables)
    out = {
        name: tables[name].total_rows()
        for name in ("mentions", "relations", "triples", "entities")
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
