"""kg_extract job (SURVEY.md §3.2) — spark-submit entry.

Ships as: spark-submit --py-files kg.zip jobs/extract.py \
    --transcripts <path> --out <table root> [--buckets 0,1 | --all] \
    [--incremental-since N]

Build kg.zip with:  python -m zipfile -c kg.zip antnre_spark oracle
(BASELINE.json:6 "ships as spark-submit --py-files modules").
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from antnre_spark.icelite import IceLite  # noqa: E402
from antnre_spark.pipeline import PipelineConfig, bucket_of, extract_job  # noqa: E402
from antnre_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True, help="parquet path or icelite table root")
    ap.add_argument("--out", required=True)
    ap.add_argument("--weights", default="fixtures/data/weights.npz")
    ap.add_argument("--vocab", default="fixtures/data/vocab.json")
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument("--buckets", default=None, help="comma-separated bucket ids")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--conf-mode",
        choices=["local", "marginal"],
        default="local",
        help="mention confidence: 'local' (frozen default, per-position "
        "emission softmax) or 'marginal' (true CRF posterior marginal via "
        "forward-backward; identical spans, calibrated conf)",
    )
    ap.add_argument(
        "--incremental-since",
        type=int,
        default=None,
        help="icelite snapshot id: re-extract only buckets touched since",
    )
    args = ap.parse_args()

    spark = get_spark("kg_extract")
    src_table = IceLite(args.transcripts)
    if src_table.current_snapshot() is not None:
        transcripts = src_table.load(spark)
    else:
        transcripts = spark.read.parquet(args.transcripts)

    cfg = PipelineConfig(
        out_root=args.out,
        weights_npz=args.weights,
        vocab_json=args.vocab,
        n_buckets=args.n_buckets,
        conf_mode=args.conf_mode,
    )

    buckets = None
    resume = not args.no_resume
    if args.buckets:
        try:
            buckets = [int(b) for b in args.buckets.split(",")]
        except ValueError:
            ap.error(
                f"--buckets must be comma-separated integers, got {args.buckets!r}"
            )
        bad = [b for b in buckets if not 0 <= b < args.n_buckets]
        if bad:
            ap.error(f"--buckets out of range [0, {args.n_buckets}): {bad}")
    elif args.incremental_since is not None and src_table.current_snapshot() is not None:
        delta = src_table.incremental(spark, args.incremental_since)
        if delta is not None:
            buckets = [
                r["b"]
                for r in delta.select(
                    bucket_of(F.col("conv_id"), cfg.n_buckets).alias("b")
                ).distinct().collect()
            ]
            resume = False  # touched buckets must be rewritten
        else:
            buckets = []

    stats = extract_job(spark, transcripts, cfg, buckets=buckets, resume=resume)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
