"""Iceberg adapter (antnre_spark/iceberg_adapter.py): the sandbox has no
Iceberg runtime, so every Spark call the adapter makes is MOCKED and the
tests assert the exact call surface — writeTo().append()/
overwrite(condition), snapshot-id read options, incremental scan
options, snapshots-metadata SQL — plus the flag-guarded factory."""

from __future__ import annotations

import re
from unittest.mock import MagicMock

import pytest

from antnre_spark.iceberg_adapter import (
    IcebergTable,
    iceberg_available,
    open_table,
)
from antnre_spark.icelite import IceLite

IDENT = "cat.db.triples"


def make_spark(confs=None):
    spark = MagicMock(name="spark")
    spark.sparkContext.getConf().getAll.return_value = list(
        (confs or {}).items()
    )
    return spark


def make_table(exists=True, snapshots=()):
    spark = make_spark()
    t = IcebergTable(spark, IDENT)
    t._table_exists = MagicMock(return_value=exists)
    rows = [
        {"snapshot_id": s, "n": n}
        for s, n in (snapshots if snapshots and isinstance(snapshots[0], tuple) else [(s, 0) for s in snapshots])
    ]
    sql_result = MagicMock()
    sql_result.collect.return_value = rows
    t._sql = MagicMock(return_value=sql_result)
    return t, spark


class TestFactory:
    def test_default_is_icelite(self, tmp_path, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_USE_ICEBERG", raising=False)
        t = open_table(make_spark(), str(tmp_path / "t"))
        assert isinstance(t, IceLite)

    def test_env_flag_without_catalog_is_loud(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_USE_ICEBERG", "1")
        with pytest.raises(RuntimeError, match="no Iceberg catalog"):
            open_table(make_spark(), IDENT)

    def test_flag_plus_catalog_yields_adapter(self):
        spark = make_spark(
            {"spark.sql.catalog.cat": "org.apache.iceberg.spark.SparkCatalog"}
        )
        t = open_table(spark, IDENT, use_iceberg=True)
        assert isinstance(t, IcebergTable)

    def test_available_probe(self):
        assert not iceberg_available(make_spark({}))
        assert iceberg_available(
            make_spark(
                {"spark.sql.catalog.x": "org.apache.iceberg.spark.SparkCatalog"}
            )
        )

    def test_available_sees_runtime_conf(self):
        """A catalog registered AFTER session start (spark.conf.set)
        lives only in the runtime SQL conf — the probe must consult
        `SET`, not just the immutable SparkConf snapshot."""
        spark = make_spark({})
        spark.sql.return_value.collect.return_value = [
            {"key": "spark.sql.catalog.cat",
             "value": "org.apache.iceberg.spark.SparkCatalog"},
            {"key": "spark.sql.catalog.cat.type", "value": "hadoop"},
        ]
        assert iceberg_available(spark)
        spark.sql.assert_called_once_with("SET")

    def test_available_ignores_catalog_subkeys(self):
        spark = make_spark({})
        spark.sql.return_value.collect.return_value = [
            {"key": "spark.sql.catalog.cat.warehouse", "value": "/x/iceberg"},
        ]
        assert not iceberg_available(spark)


class TestWrites:
    def test_append_on_existing_table(self):
        t, _ = make_table(exists=True, snapshots=(11, 22))
        df = MagicMock()
        snap = t.append(df)
        df.writeTo.assert_called_once_with(IDENT)
        df.writeTo.return_value.append.assert_called_once_with()
        df.writeTo.return_value.create.assert_not_called()
        assert snap == 22

    def test_first_append_creates_partitioned(self):
        t, _ = make_table(exists=False)
        df = MagicMock()
        t.append(df, partition_by=["pred", "bucket"])
        w = df.writeTo.return_value
        w.partitionedBy.assert_called_once()
        assert len(w.partitionedBy.call_args.args) == 2
        w.partitionedBy.return_value.create.assert_called_once_with()
        w.append.assert_not_called()

    def test_overwrite_partitions_is_dynamic(self, monkeypatch):
        """Each call picks the partitions it replaces: overwrite(bucket IN
        (3)) on an existing table, so the named partition loses its old
        rows even when df is empty — which Spark's dynamic
        overwritePartitions() (replace only the partitions df fills)
        would not do."""
        from antnre_spark import iceberg_adapter

        col = MagicMock(name="col")
        monkeypatch.setattr(iceberg_adapter.F, "col", col)
        t, _ = make_table(exists=True, snapshots=(5,))
        df = MagicMock()
        t.overwrite_partitions(df, {"bucket": [3]})
        col.assert_called_once_with("bucket")
        col.return_value.isin.assert_called_once_with([3])
        w = df.writeTo.return_value
        w.overwrite.assert_called_once_with(col.return_value.isin.return_value)
        w.overwritePartitions.assert_not_called()

    def test_first_overwrite_partitions_creates_partitioned(self):
        t, _ = make_table(exists=False)
        df = MagicMock()
        t.overwrite_partitions(df, {"pred": ["a"], "bucket": [1]})
        w = df.writeTo.return_value
        assert len(w.partitionedBy.call_args.args) == 2
        w.partitionedBy.return_value.create.assert_called_once_with()
        w.overwrite.assert_not_called()

    def test_overwrite_replaces_the_whole_table(self, monkeypatch):
        """Full-table overwrite (the link outputs, graph analytics, query
        --write): overwrite(lit(True)) on an existing table, so partitions
        the new frame no longer fills keep no stale rows."""
        from antnre_spark import iceberg_adapter

        monkeypatch.setattr(iceberg_adapter.F, "lit", lambda v: ("lit", v))
        t, _ = make_table(exists=True, snapshots=(5, 6))
        df = MagicMock()
        assert t.overwrite(df, ["pred", "bucket"]) == 6
        w = df.writeTo.return_value
        w.overwrite.assert_called_once_with(("lit", True))
        w.overwritePartitions.assert_not_called()
        w.create.assert_not_called()

    def test_first_overwrite_creates_partitioned(self):
        t, _ = make_table(exists=False)
        df = MagicMock()
        t.overwrite(df, partition_by=["pred", "bucket"])
        w = df.writeTo.return_value
        assert len(w.partitionedBy.call_args.args) == 2
        w.partitionedBy.return_value.create.assert_called_once_with()
        w.overwrite.assert_not_called()


class TestReads:
    def test_load_latest_and_pinned_snapshot(self):
        t, _ = make_table(exists=True)
        spark = MagicMock()
        t.load(spark)
        spark.read.table.assert_called_once_with(IDENT)

        spark2 = MagicMock()
        t.load(spark2, snapshot=42)
        spark2.read.option.assert_called_once_with("snapshot-id", 42)
        spark2.read.option.return_value.table.assert_called_once_with(IDENT)

    def test_load_missing_table_is_none(self):
        t, _ = make_table(exists=False)
        assert t.load(MagicMock()) is None

    def test_load_partition_filter_applied(self):
        t, _ = make_table(exists=True)
        spark = MagicMock()
        df = spark.read.table.return_value
        t.load(spark, partition_filter={"bucket": ["3"]})
        df.filter.assert_called_once()

    def test_incremental_sets_snapshot_range(self):
        t, _ = make_table(exists=True, snapshots=(10, 20, 30))
        spark = MagicMock()
        t.incremental(spark, since_snapshot=10)
        spark.read.format.assert_called_once_with("iceberg")
        opt = spark.read.format.return_value.option
        opt.assert_called_once_with("start-snapshot-id", 10)
        opt.return_value.option.assert_called_once_with(
            "end-snapshot-id", 30
        )
        opt.return_value.option.return_value.load.assert_called_once_with(
            IDENT
        )

    def test_incremental_noop_when_caught_up(self):
        t, _ = make_table(exists=True, snapshots=(10,))
        assert t.incremental(MagicMock(), since_snapshot=10) is None

    def test_incremental_none_since_full_read(self):
        t, _ = make_table(exists=True, snapshots=(10,))
        spark = MagicMock()
        out = t.incremental(spark, since_snapshot=None)
        spark.read.table.assert_called_once_with(IDENT)
        assert out is not None


class TestSnapshots:
    def test_snapshot_order_and_total_rows(self):
        t, _ = make_table(
            exists=True, snapshots=((7, 100), (9, 250))
        )
        assert t.snapshots() == [7, 9]
        assert t.current_snapshot() == 9
        assert t.total_rows() == 250
        assert t.total_rows(snapshot=7) == 100
        with pytest.raises(KeyError):
            t.total_rows(snapshot=8)

    def test_empty_table(self):
        t, _ = make_table(exists=False)
        assert t.snapshots() == []
        assert t.current_snapshot() is None
        assert t.total_rows() == 0


class TestPipelineCutover:
    def test_config_routes_tables_through_adapter(self, spark, tmp_path):
        """PipelineConfig(iceberg_namespace=...) makes EVERY pipeline
        table an IcebergTable with the namespaced identifier — the whole
        cutover is one config field (DEPLOY.md). Default stays IceLite."""
        from antnre_spark.pipeline import PipelineConfig

        cfg = PipelineConfig(
            out_root=str(tmp_path),
            weights_npz="/nonexistent.npz",
            vocab_json="/nonexistent.json",
            iceberg_namespace="cat.kg",
        )
        t = cfg.table("triples")
        assert isinstance(t, IcebergTable)
        assert t.identifier == "cat.kg.triples"
        assert t.spark is spark  # the active session

        plain = PipelineConfig(
            out_root=str(tmp_path),
            weights_npz="/nonexistent.npz",
            vocab_json="/nonexistent.json",
        )
        assert isinstance(plain.table("triples"), IceLite)


class TestMaintenanceSurface:
    """The real-procedure maintenance twins (mocked call surface)."""

    def test_compact_calls_rewrite_data_files(self):
        t, _spark = make_table(snapshots=((1, 10),))
        row = {"rewritten_data_files_count": 7, "added_data_files_count": 2}
        t._sql = MagicMock(
            return_value=MagicMock(collect=MagicMock(return_value=[row]))
        )
        rep = t.compact(min_files=3)
        sql = t._sql.call_args[0][0]
        assert "CALL cat.system.rewrite_data_files" in sql
        assert "min-input-files" in sql and "'3'" in sql
        assert rep["rewritten_data_files_count"] == 7

    def test_expire_snapshots_pins_older_than_to_now(self):
        """Iceberg's default older_than = now()-5d would make a daily
        maintenance job expire NOTHING; the adapter must pass an explicit
        older_than so retain_last is the only retention rule. It must be a CONSTANT typed literal — Iceberg's
        CALL grammar rejects function calls like current_timestamp()
        — carrying an EXPLICIT zone offset so a UTC+X
        session cannot re-read it hours in the past."""
        from datetime import datetime, timezone

        t, _spark = make_table(snapshots=((1, 10),))
        row = {"deleted_data_files_count": 4}
        t._sql = MagicMock(
            return_value=MagicMock(collect=MagicMock(return_value=[row]))
        )
        t.snapshots = MagicMock(return_value=[1])
        before = datetime.now(timezone.utc).replace(microsecond=0)
        rep = t.expire_snapshots(keep_last=2)
        after = datetime.now(timezone.utc).replace(microsecond=0)
        sql = t._sql.call_args[0][0]
        assert "CALL cat.system.expire_snapshots" in sql
        # constant typed literal, not a (grammar-illegal) function call
        assert "current_timestamp()" not in sql
        m = re.search(r"older_than => TIMESTAMP '([^']+)\+00:00'", sql)
        assert m, sql
        cutoff = datetime.strptime(m.group(1), "%Y-%m-%d %H:%M:%S").replace(
            tzinfo=timezone.utc
        )
        assert before <= cutoff <= after  # pinned to NOW, in UTC
        assert "retain_last => 2" in sql
        assert rep["deleted_data_files_count"] == 4

    def test_total_rows_counts_when_latest_summary_missing(self):
        """A maintenance/delete commit without 'total-records' must NOT
        fall back to a STALE older summary — the adapter pays for a real
        (manifest-served) count instead."""
        t, _spark = make_table(snapshots=((1, 100), (2, None)))
        orig_sql = t._sql

        def routed(q):
            if q.startswith("SELECT count(*)"):
                return MagicMock(
                    collect=MagicMock(return_value=[{"n": 60}])
                )
            return orig_sql(q)

        t._sql = MagicMock(side_effect=routed)
        assert t.total_rows() == 60
