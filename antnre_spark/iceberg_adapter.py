"""Real Apache Iceberg adapter behind the IceLite interface
(BASELINE.json obligation "partitioned Iceberg vertex/edge tables").

This sandbox has no Iceberg runtime jars (SURVEY.md §0.3), so the
pipeline's default table layer is IceLite (antnre_spark/icelite.py) — a
parquet+manifest facade with faithful snapshot semantics. On a cluster
with Iceberg configured, this module provides the SAME four-operation
surface over real Iceberg tables, so the cutover is a constructor swap
(see ``open_table`` and DEPLOY.md §Iceberg cutover):

  IceLite(path)                       ->  IcebergTable(spark, "cat.db.t")
  .append(df, partition_by)           ->  df.writeTo(ident).append()
  .overwrite_partitions(df, {c: vals}) ->  df.writeTo(ident).overwrite(col(c).isin(vals))
  .overwrite(df, partition_by)        ->  df.writeTo(ident).overwrite(lit(True))
  .load(spark, snapshot, filter)      ->  spark.read.option("snapshot-id", ...)
                                               .table(ident).filter(...)
  .incremental(spark, since)          ->  spark.read.format("iceberg")
                                               .option("start-snapshot-id", ...)
  .total_rows()/current_snapshot()    ->  the <ident>.snapshots metadata table

Every Spark call is routed through small instance methods, so unit tests
mock the session and assert the exact calls — the adapter's logic
(snapshot bookkeeping, partition filters, first-write table creation) is
tested without any Iceberg runtime present.

Enablement is flag-guarded: ``open_table`` returns IceLite unless the
caller opts in (argument or SPARK_GRAFT_USE_ICEBERG=1) AND the session
actually has an Iceberg catalog configured — never by accident.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from antnre_spark.icelite import IceLite


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the session has at least one Iceberg catalog configured
    (spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog or
    a subclass whose name carries 'iceberg'/'SparkCatalog'). Probes BOTH
    conf surfaces: the immutable SparkConf snapshot AND the runtime SQL
    conf (``SET``) — a catalog registered after session start via
    spark.conf.set() never lands in the former. Conf
    probing only — no jar loading, safe in this sandbox."""

    def _is_catalog(k: str, v: str) -> bool:
        return k.startswith("spark.sql.catalog.") and "." not in k[
            len("spark.sql.catalog."):
        ] and ("iceberg" in v.lower() or v.endswith("SparkCatalog"))

    try:
        if any(
            _is_catalog(k, v)
            for k, v in spark.sparkContext.getConf().getAll()
        ):
            return True
        return any(
            _is_catalog(r["key"], r["value"] or "")
            for r in spark.sql("SET").collect()
        )
    except Exception:
        return False


def open_table(
    spark: SparkSession,
    path_or_ident: str,
    use_iceberg: bool | None = None,
):
    """Factory for the pipeline's table layer.

    ``use_iceberg=None`` reads $SPARK_GRAFT_USE_ICEBERG (default off).
    When enabled, ``path_or_ident`` must be a catalog identifier
    (``catalog.db.table``); an Iceberg catalog must be configured on the
    session or a RuntimeError explains the missing conf instead of
    failing later inside a write."""
    if use_iceberg is None:
        use_iceberg = os.environ.get("SPARK_GRAFT_USE_ICEBERG", "0") == "1"
    if not use_iceberg:
        return IceLite(path_or_ident)
    if not iceberg_available(spark):
        raise RuntimeError(
            "SPARK_GRAFT_USE_ICEBERG is set but no Iceberg catalog is "
            "configured — add spark.sql.catalog.<name>="
            "org.apache.iceberg.spark.SparkCatalog (+ warehouse/jars) to "
            "the session, or unset the flag to use the IceLite layer"
        )
    return IcebergTable(spark, path_or_ident)


class IcebergTable:
    """IceLite-compatible surface over a real Iceberg table identifier.

    The pipeline passes a SparkSession to load()/incremental() like it
    does for IceLite; the constructor session is used for writes and
    metadata queries."""

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier

    # ---- small seams, mocked in tests ----------------------------------

    def _table_exists(self) -> bool:
        return self.spark.catalog.tableExists(self.identifier)

    def _sql(self, query: str):
        return self.spark.sql(query)

    # ---- snapshot bookkeeping ------------------------------------------

    def snapshots(self) -> list[int]:
        """Snapshot ids, oldest first — from the Iceberg ``snapshots``
        metadata table (no data files touched)."""
        if not self._table_exists():
            return []
        rows = self._sql(
            f"SELECT snapshot_id FROM {self.identifier}.snapshots "
            "ORDER BY committed_at ASC"
        ).collect()
        return [int(r["snapshot_id"]) for r in rows]

    def current_snapshot(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    # ---- writes ---------------------------------------------------------

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """df.writeTo(ident).append(); first write creates the table with
        the requested partitioning (identity transforms — the layout the
        pipeline uses; bucket columns are materialized upstream)."""
        writer = df.writeTo(self.identifier)
        if not self._table_exists():
            if partition_by:
                # df[c], not F.col(c): column handles come from the frame
                # so no active SparkContext is needed at plan-build time
                # (also what lets the unit tests run fully mocked)
                writer = writer.partitionedBy(*[df[c] for c in partition_by])
            writer.create()
        else:
            writer.append()
        return self.current_snapshot() or 0

    def overwrite_partitions(
        self, df: DataFrame, partitions: dict[str, list]
    ) -> int:
        """Replace the named partitions: ``overwrite(c IN values AND ...)``
        deletes the rows of every named partition and writes df, so a
        partition df no longer fills still loses its old rows (IceLite's
        semantics; dynamic ``overwritePartitions()`` would keep them). The
        first write creates the table partitioned by the named columns."""
        writer = df.writeTo(self.identifier)
        if not self._table_exists():
            writer = writer.partitionedBy(*[df[c] for c in partitions])
            writer.create()
        else:
            cond = None
            for c, vals in partitions.items():
                term = F.col(c).isin(list(vals))
                cond = term if cond is None else cond & term
            writer.overwrite(cond)
        return self.current_snapshot() or 0

    def overwrite(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        """Full-table overwrite: ``overwrite(lit(True))`` replaces every
        row, so a partition the new df no longer fills keeps no stale
        files (IceLite.overwrite's semantics, for derived tables that are
        recomputed whole). The first write creates the table partitioned
        by ``partition_by``."""
        writer = df.writeTo(self.identifier)
        if not self._table_exists():
            if partition_by:
                writer = writer.partitionedBy(*[df[c] for c in partition_by])
            writer.create()
        else:
            writer.overwrite(F.lit(True))
        return self.current_snapshot() or 0

    # ---- reads ----------------------------------------------------------

    def compact(self, spark: SparkSession | None = None, min_files: int = 2) -> dict:
        """Iceberg's real small-file rewrite: the ``rewrite_data_files``
        procedure (bin-pack, the default strategy). ``min_files`` maps to
        the procedure's ``min-input-files`` option; Iceberg applies its
        own byte-size targets on top. Signature matches IceLite.compact
        so jobs/compact.py runs unchanged against either backend."""
        catalog = self.identifier.split(".", 1)[0]
        rows = self._sql(
            f"CALL {catalog}.system.rewrite_data_files("
            f"table => '{self.identifier}', "
            f"options => map('min-input-files', '{min_files}'))"
        ).collect()
        r = rows[0] if rows else None
        return {
            "rewritten_data_files_count": int(r["rewritten_data_files_count"]) if r else 0,
            "added_data_files_count": int(r["added_data_files_count"]) if r else 0,
        }

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg's ``expire_snapshots`` procedure, retaining the newest
        ``keep_last`` snapshots. ``older_than`` is passed explicitly as
        NOW: Iceberg's default is now()-5days, under which a daily
        maintenance job would expire NOTHING for five days (every
        snapshot too young) while the IceLite twin trims immediately —
        pinning older_than to the present makes retain_last the only
        retention rule, matching IceLite.expire_snapshots semantics.

        The cutoff is a zone-EXPLICIT ``TIMESTAMP '...+00:00'`` literal:
        a zone-less literal is re-read in spark.sql.session.timeZone,
        landing the cutoff hours in the past in any UTC+X session and
        silently retaining young snapshots beyond retain_last. It cannot
        be ``current_timestamp()`` either — Iceberg's SQL-extension
        grammar accepts only constants (number / string / typed literal)
        as CALL arguments, so a function call is a ParseException against
        a real catalog; the typed literal with an explicit offset is both grammar-legal and
        timezone-proof."""
        from datetime import datetime, timezone as _tz

        cutoff = datetime.now(_tz.utc).strftime("%Y-%m-%d %H:%M:%S+00:00")
        catalog = self.identifier.split(".", 1)[0]
        rows = self._sql(
            f"CALL {catalog}.system.expire_snapshots("
            f"table => '{self.identifier}', "
            f"older_than => TIMESTAMP '{cutoff}', "
            f"retain_last => {keep_last})"
        ).collect()
        r = rows[0] if rows else None
        return {
            "deleted_data_files_count": int(r["deleted_data_files_count"]) if r else 0,
            "kept_snapshots": self.snapshots(),
        }

    def load(
        self,
        spark: SparkSession,
        snapshot: int | None = None,
        partition_filter: dict[str, list[str]] | None = None,
    ) -> DataFrame | None:
        """Read a snapshot (default: latest). partition_filter becomes a
        plain .filter(col IN (...)) — Iceberg prunes data files from its
        own manifests, the same no-listing guarantee IceLite provides."""
        if not self._table_exists():
            return None
        reader = spark.read
        if snapshot is not None:
            reader = reader.option("snapshot-id", snapshot)
        df = reader.table(self.identifier)
        if partition_filter:
            for col, vals in partition_filter.items():
                df = df.filter(
                    df[col].cast("string").isin([str(v) for v in vals])
                )
        return df

    def incremental(
        self, spark: SparkSession, since_snapshot: int | None
    ) -> DataFrame | None:
        """Rows appended strictly after ``since_snapshot`` (Iceberg
        incremental append scan). since=None falls back to a full read —
        the same first-run semantics as IceLite."""
        current = self.current_snapshot()
        if current is None:
            return None
        if since_snapshot is None:
            return self.load(spark)
        if since_snapshot == current:
            return None
        return (
            spark.read.format("iceberg")
            .option("start-snapshot-id", since_snapshot)
            .option("end-snapshot-id", current)
            .load(self.identifier)
        )

    def total_rows(self, snapshot: int | None = None) -> int:
        """total-records from the snapshot summary (manifest metadata,
        no scan)."""
        if not self._table_exists():
            return 0
        rows = self._sql(
            f"SELECT snapshot_id, summary['total-records'] AS n "
            f"FROM {self.identifier}.snapshots ORDER BY committed_at ASC"
        ).collect()
        if not rows:
            return 0
        if snapshot is None:
            # snapshots produced by delete/replace/maintenance commits can
            # lack the 'total-records' summary key (n is then NULL). An
            # older snapshot's summary would be a STALE count (the very
            # commit missing the key may have changed row counts), so when
            # the LATEST snapshot lacks it, pay for a real count instead —
            # Iceberg serves count(*) from manifests, no data-file scan.
            if rows[-1]["n"] is not None:
                return int(rows[-1]["n"])
            return int(
                self._sql(
                    f"SELECT count(*) AS n FROM {self.identifier}"
                ).collect()[0]["n"]
            )
        for r in rows:
            if int(r["snapshot_id"]) == snapshot:
                if r["n"] is None:
                    raise ValueError(
                        f"snapshot {snapshot} of {self.identifier} has no "
                        "'total-records' summary (maintenance commit?)"
                    )
                return int(r["n"])
        raise KeyError(f"unknown snapshot {snapshot} for {self.identifier}")
