"""IcebergLite — a thin, swap-compatible stand-in for Iceberg tables
(SURVEY.md §7.4; the sandbox has no Iceberg runtime jars and no network).

Mirrors the four Iceberg operations the pipeline needs — load, append,
overwrite_partitions, incremental read — over parquet + JSON manifests:

  table/
    data/snap-<n>-<writer>/[pcol=val/...]part-*.parquet  immutable data
    manifests/snap-<n>.json                              snapshot manifest

(<writer> is a per-write unique token: two writers racing to the same
snapshot id never touch each other's files — only the manifest link is
contended, and exactly one wins it.)

A snapshot manifest lists every live file (path relative to the table root,
row count, partition values parsed from the path) plus the parent snapshot
id. Commit = write data files, then atomically os.rename a tmp manifest
into place — readers only ever see fully-committed snapshots (linear
history, single writer: sufficient for this pipeline's per-stage commits).
Manifest-level partition values give Iceberg-style partition pruning: load()
filters the file list BEFORE Spark ever touches the filesystem.

When real Iceberg jars exist, each call maps 1:1 onto
``spark.read.format("iceberg")`` / ``df.writeTo(...)`` — the facade is the
only file that changes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: parquet footer key under which Spark stores a file's data schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class ConcurrentCommitError(RuntimeError):
    """Raised when a commit finds its target snapshot id already taken —
    another writer won the race (IceLite's CommitFailedException twin)."""


class IceLite:
    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "manifests")

    # ---- snapshot bookkeeping ------------------------------------------

    def snapshots(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in os.listdir(self.manifest_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    def current_snapshot(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def manifest(self, snapshot: int) -> dict:
        with open(os.path.join(self.manifest_dir, f"snap-{snapshot}.json")) as f:
            return json.load(f)

    def _commit(self, files: list[dict], parent: int | None, op: str) -> int:
        os.makedirs(self.manifest_dir, exist_ok=True)
        snap = (parent if parent is not None else -1) + 1
        manifest = {
            "snapshot": snap,
            "parent": parent,
            "operation": op,
            "files": files,
            "total_rows": sum(f["rows"] for f in files),
            "committed_at_unix": int(time.time()),
        }
        # writer-UNIQUE tmp name: two racers writing `.tmp-snap-N.json`
        # would truncate each other mid-dump and the surviving os.link
        # could publish a torn manifest — uniqueness confines the race to
        # the single os.link below.
        tmp = os.path.join(
            self.manifest_dir, f".tmp-snap-{snap}-{uuid.uuid4().hex[:8]}.json"
        )
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=0, sort_keys=True)
        final = os.path.join(self.manifest_dir, f"snap-{snap}.json")
        try:
            # atomic AND exclusive (os.link fails with EEXIST, unlike
            # rename which silently clobbers): if another writer committed
            # snapshot `snap` between our manifest read and now — e.g.
            # jobs/compact.py racing a live start_kg_stream micro-batch —
            # the loser aborts instead of erasing the winner's commit.
            # This is IceLite's optimistic-concurrency twin of Iceberg's
            # CommitFailedException; callers retry from a fresh
            # current_snapshot() or drain the other writer first.
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot {snap} of {self.path} was committed by another "
                f"writer between this writer's manifest read and its "
                f"commit; re-read current_snapshot() and retry (or drain "
                f"the concurrent writer — see jobs/compact.py)"
            ) from None
        except OSError:
            # filesystem without hard-link support (some FUSE/object-
            # store mounts): fall back to O_CREAT|O_EXCL create+write —
            # still exclusive (EEXIST -> the concurrency error above),
            # not atomic-with-content, but the writer-unique tmp already
            # holds the full bytes and this copy is a short tail risk
            # vs refusing every commit on such mounts.
            try:
                fd = os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                raise ConcurrentCommitError(
                    f"snapshot {snap} of {self.path} was committed by "
                    f"another writer (exclusive-create fallback); re-read "
                    f"current_snapshot() and retry"
                ) from None
            try:
                with os.fdopen(fd, "w") as out:
                    with open(tmp) as src:
                        out.write(src.read())
            except BaseException:
                # a partial snap-N.json would wedge the table forever:
                # every retry hits EEXIST and every reader fails in
                # json.load. Remove it so the commit stays retryable.
                try:
                    os.unlink(final)
                except OSError:
                    pass
                raise
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        return snap

    # ---- writes ---------------------------------------------------------

    def _write_files(
        self, df: DataFrame, snap: int, partition_by: list[str] | None
    ) -> list[dict]:
        """Write df under a writer-unique data/snap-<n>-<writer>/ dir and
        return manifest file entries. Uniqueness means a concurrent writer
        targeting the same snapshot id can never rmtree/rename over this
        writer's in-flight files; a loser's orphaned dir is unreferenced
        by every kept manifest, so expire_snapshots() garbage-collects it
        (readers resolve paths only through manifests, never by listing)."""
        snap_dir = f"snap-{snap}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.data_dir, snap_dir)
        tmp_dir = os.path.join(self.data_dir, f".tmp-{snap_dir}")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp_dir)
        files: list[dict] = []
        for root, _dirs, names in os.walk(tmp_dir):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                rel_in_snap = os.path.relpath(full, tmp_dir)
                partitions = {}
                for seg in rel_in_snap.split(os.sep)[:-1]:
                    if "=" in seg:
                        col, val = seg.split("=", 1)
                        partitions[col] = val
                files.append(
                    {
                        "path": os.path.join(snap_dir, rel_in_snap),
                        "rows": pq.read_metadata(full).num_rows,
                        "partitions": partitions,
                    }
                )
        os.rename(tmp_dir, out_dir)
        return files

    def _commit_or_clean(
        self, files: list[dict], parent: int | None, op: str,
        new_files: list[dict],
    ) -> int:
        """_commit, but on losing the snapshot race also rmtree the data
        dir this writer just published (it is unreferenced and the caller
        will re-write on retry) so the loser leaves no litter behind."""
        try:
            return self._commit(files, parent, op)
        except ConcurrentCommitError:
            for d in {f["path"].split(os.sep)[0] for f in new_files}:
                shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)
            raise

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        parent = self.current_snapshot()
        snap = (parent if parent is not None else -1) + 1
        new_files = self._write_files(df, snap, partition_by)
        live = self.manifest(parent)["files"] if parent is not None else []
        return self._commit_or_clean(live + new_files, parent, "append", new_files)

    def overwrite(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        """Replace the ENTIRE table contents with df in one snapshot
        (Iceberg's full-table overwrite): the new manifest lists only
        this write's files; prior snapshots stay readable for time
        travel until expire_snapshots reclaims them. The right op for
        derived tables that are fully recomputed per run (the
        graph-analytics outputs), where append would silently stack
        stale rows under the reader."""
        parent = self.current_snapshot()
        snap = (parent if parent is not None else -1) + 1
        new_files = self._write_files(df, snap, partition_by)
        return self._commit_or_clean(new_files, parent, "overwrite", new_files)

    def overwrite_partitions(
        self, df: DataFrame, partitions: dict[str, list]
    ) -> int:
        """Replace the named partitions with df in one snapshot — the
        idempotent re-extract primitive (SURVEY.md §2.J). ``partitions``
        maps each partition column to the values this write owns, e.g.
        ``{"bucket": [3]}``: every live file whose value of each column is
        among them is dropped, and df is written partitioned by those
        columns. The caller names the values because df may be empty: a
        re-extracted bucket that now yields no rows must still lose its old
        ones. A df row outside the named partitions raises ValueError
        before the commit, instead of landing as an unowned append."""
        named = {c: {str(v) for v in vals} for c, vals in partitions.items()}

        def owned(f: dict) -> bool:
            return all(
                unquote(f["partitions"].get(c, "")) in vals
                for c, vals in named.items()
            )

        parent = self.current_snapshot()
        snap = (parent if parent is not None else -1) + 1
        new_files = self._write_files(df, snap, list(partitions))
        stray = [f["partitions"] for f in new_files if not owned(f)]
        if stray:
            for d in {f["path"].split(os.sep)[0] for f in new_files}:
                shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)
            raise ValueError(
                f"overwrite_partitions({partitions}) got rows in partitions "
                f"it does not name: {stray[:3]}"
            )
        live = self.manifest(parent)["files"] if parent is not None else []
        kept = [f for f in live if not owned(f)]
        return self._commit_or_clean(
            kept + new_files, parent, "overwrite_partitions", new_files
        )

    # ---- maintenance ----------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
    ) -> dict:
        """Rewrite every partition holding >= ``min_files`` live files
        into one file per partition (the IceLite twin of Iceberg's
        ``rewrite_data_files``). Row-identical by construction — the
        rewrite reads exactly the target partitions' live files and
        replaces them with the rewritten files in one commit — and
        the operational gap a 10^12-turn table hits first: every
        streaming micro-batch / resume bucket commit adds small files,
        and scan cost grows with file count (task-per-file scheduling +
        footer reads) even when total bytes are flat.

        One file per partition comes from hash-repartitioning on the
        partition columns before the partitioned write: each partition's
        rows land in exactly one task. Unpartitioned tables compact to a
        single file. Returns counts; no-op commit is skipped entirely.

        Caveat (same as Iceberg): an ``incremental()`` reader whose
        ``since_snapshot`` predates the compaction will see the rewritten
        files as new — compaction does not change rows, so idempotent
        consumers (overwrite-by-partition, as this pipeline's are)
        re-derive identical state."""
        parent = self.current_snapshot()
        if parent is None:
            return {"compacted_partitions": 0, "files_before": 0, "files_after": 0}
        live = self.manifest(parent)["files"]
        by_part: dict[tuple, list[dict]] = {}
        for f in live:
            by_part.setdefault(tuple(sorted(f["partitions"].items())), []).append(f)
        targets = {p: fs for p, fs in by_part.items() if len(fs) >= min_files}
        if not targets:
            return {
                "compacted_partitions": 0,
                "files_before": len(live),
                "files_after": len(live),
            }
        target_files = [f for fs in targets.values() for f in fs]
        df = self._read_files(spark, target_files)
        part_cols = sorted({k for p in targets for k, _v in p})
        if part_cols:
            df = df.repartition(*[F.col(c) for c in part_cols])
            snap = parent + 1
            new_files = self._write_files(df, snap, part_cols)
        else:
            df = df.coalesce(1)
            snap = parent + 1
            new_files = self._write_files(df, snap, None)
        kept = [
            f
            for f in live
            if tuple(sorted(f["partitions"].items())) not in targets
        ]
        self._commit_or_clean(kept + new_files, parent, "compact", new_files)
        return {
            "compacted_partitions": len(targets),
            "files_before": len(live),
            "files_after": len(kept) + len(new_files),
        }

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop all but the newest ``keep_last`` snapshot manifests and
        physically delete data files referenced by NO kept manifest (the
        IceLite twin of Iceberg's ``expire_snapshots``) — without it the
        table directory grows by one full overwritten copy per commit,
        forever. Time travel / incremental reads older than the kept
        window stop working, exactly as in Iceberg."""
        snaps = self.snapshots()
        expire = snaps[:-keep_last] if keep_last > 0 else snaps
        keep = snaps[len(expire):]
        referenced: set[str] = set()
        for s in keep:
            referenced.update(f["path"] for f in self.manifest(s)["files"])
        removed_files = 0
        if os.path.isdir(self.data_dir):
            for root, _dirs, names in os.walk(self.data_dir, topdown=False):
                for name in names:
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, self.data_dir)
                    if rel not in referenced:
                        os.remove(full)
                        removed_files += 1
                if not os.listdir(root):
                    os.rmdir(root)
        for s in expire:
            os.remove(os.path.join(self.manifest_dir, f"snap-{s}.json"))
        return {
            "expired_snapshots": len(expire),
            "removed_files": removed_files,
            "kept_snapshots": keep,
        }

    # ---- reads ----------------------------------------------------------

    @staticmethod
    def _footer_schema(path: str) -> StructType:
        """The data schema Spark wrote into this file's parquet footer —
        the same key Spark's own (non-merging) schema inference reads,
        taken here on the driver so no inference job runs."""
        meta = pq.read_metadata(path).metadata or {}
        raw = meta.get(SPARK_SCHEMA_KEY)
        if raw is None:
            raise ValueError(
                f"{path} has no {SPARK_SCHEMA_KEY.decode()} footer key; "
                f"IceLite reads only files its own writes produced"
            )
        return StructType.fromJson(json.loads(raw))

    def _read_files(self, spark: SparkSession, files: list[dict]) -> DataFrame | None:
        """One read per snapshot directory, each with the schema from the
        footer of its first file (one write produced every file of a
        directory, so they share it). Partition columns are inferred from
        the paths under basePath. Directories whose columns differ are
        unioned by name; a column missing from a snapshot reads NULL."""
        if not files:
            return None
        # group by snapshot dir so partition-dir columns resolve via basePath
        by_snap: dict[str, list[str]] = {}
        for f in files:
            snap_dir = f["path"].split(os.sep)[0]
            by_snap.setdefault(snap_dir, []).append(
                os.path.join(self.data_dir, f["path"])
            )
        dfs = []
        for snap_dir, paths in sorted(by_snap.items()):
            base = os.path.join(self.data_dir, snap_dir)
            dfs.append(
                spark.read.schema(self._footer_schema(paths[0]))
                .option("basePath", base)
                .parquet(*paths)
            )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def load(
        self,
        spark: SparkSession,
        snapshot: int | None = None,
        partition_filter: dict[str, list[str]] | None = None,
    ) -> DataFrame | None:
        """Read a snapshot (default: latest). partition_filter prunes files
        via manifest partition values before Spark sees a path. The schema
        comes from one driver-side footer read per snapshot directory
        (_read_files), so planning a load runs no Spark job while each
        read stays at or below Spark's 32-path parallel-listing
        threshold."""
        snap = snapshot if snapshot is not None else self.current_snapshot()
        if snap is None:
            return None
        files = self.manifest(snap)["files"]
        if partition_filter:
            files = [
                f
                for f in files
                if all(
                    f["partitions"].get(col) in set(vals)
                    for col, vals in partition_filter.items()
                )
            ]
        return self._read_files(spark, files)

    def incremental(
        self, spark: SparkSession, since_snapshot: int | None
    ) -> DataFrame | None:
        """Files added strictly after ``since_snapshot`` (Iceberg
        incremental-read semantics via manifest diff)."""
        current = self.current_snapshot()
        if current is None:
            return None
        new = self.manifest(current)["files"]
        if since_snapshot is not None:
            old_paths = {f["path"] for f in self.manifest(since_snapshot)["files"]}
            new = [f for f in new if f["path"] not in old_paths]
        return self._read_files(spark, new)

    def total_rows(self, snapshot: int | None = None) -> int:
        snap = snapshot if snapshot is not None else self.current_snapshot()
        if snap is None:
            return 0
        return self.manifest(snap)["total_rows"]

