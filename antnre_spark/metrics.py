"""_markers — per-partition completion markers + lineage metrics
(SURVEY.md §3.3; obligation BASELINE.json:6 "every stage checkpoints
per-partition completion markers with lineage + triple-count metrics so runs
resume idempotently from the last committed Iceberg snapshot").

A marker row commits AFTER its partition's output snapshot commits, so a
crash between the two re-processes the partition (the output commit is an
idempotent overwrite_partitions — safe to redo). Resume = planned
partitions ANTI JOIN committed markers (SURVEY.md §2.I).

Markers are stored as one JSON file per (stage, partition, snapshot) —
commit via atomic rename, read via explicit schema — so concurrent stage
commits never contend on a single file.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from antnre_spark.schema import MARKERS, local_frame


class MarkerStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def commit(
        self,
        stage: str,
        partition_key: str,
        snapshot_id: str,
        input_rows: int,
        output_rows: int,
        triple_count: int = 0,
        code_hash: str = "",
        model_hash: str = "",
    ) -> None:
        row = {
            "stage": stage,
            "partition_key": partition_key,
            "snapshot_id": snapshot_id,
            "input_rows": input_rows,
            "output_rows": output_rows,
            "triple_count": triple_count,
            "code_hash": code_hash,
            "model_hash": model_hash,
            "committed_at": datetime.now(timezone.utc).isoformat(),
        }
        name = f"{stage}__{partition_key}".replace(os.sep, "_")
        digest = hashlib.sha256(name.encode()).hexdigest()[:12]
        tmp = os.path.join(self.path, f".tmp-{digest}.json")
        with open(tmp, "w") as f:
            json.dump(row, f)
        os.rename(tmp, os.path.join(self.path, f"marker-{digest}.json"))

    def _rows(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.startswith("marker-") and name.endswith(".json"):
                with open(os.path.join(self.path, name)) as f:
                    out.append(json.load(f))
        return out

    def committed(self, stage: str) -> set[str]:
        return {r["partition_key"] for r in self._rows() if r["stage"] == stage}

    def rows(self, stage: str) -> list[dict]:
        """All marker rows for one stage (resume-time model_hash checks)."""
        return [r for r in self._rows() if r["stage"] == stage]

    def as_df(self, spark: SparkSession) -> DataFrame:
        rows = self._rows()
        for r in rows:
            r["committed_at"] = datetime.fromisoformat(r["committed_at"])
        return local_frame(spark, rows, MARKERS)
