"""IcebergSnapshotStore call-contract tests (VERDICT r4 #6).

No Iceberg jars exist in this sandbox, so the store's ~60 LoC of API
calls cannot execute against a real catalog. These tests pin the exact
call sequence each method makes — SQL text against the ``.snapshots``
metadata table, reader format/options, writeTo option/append order — via
a recording stub, turning untested-LoC into tested-against-contract LoC.
The contract being pinned is Iceberg's public Spark integration surface:
``option("snapshot-id")`` time travel, ``start-snapshot-id`` (exclusive)
/ ``end-snapshot-id`` (inclusive) incremental reads,
``snapshot-property.*`` commit metadata, and the snapshots metadata
table's ``summary`` map. Spark-free and jar-free by construction.
"""

from __future__ import annotations

import pytest

from json_ld_spark.pipeline.snapshots import IcebergSnapshotStore

TABLE = "kg.db.transcripts"


class _StubReader:
    def __init__(self, log: list) -> None:
        self._log = log
        self.fmt = None
        self.options: dict[str, str] = {}

    def format(self, fmt: str):
        self.fmt = fmt
        return self

    def option(self, key: str, value: str):
        assert isinstance(value, str), "options must be stringified"
        self.options[key] = value
        return self

    def load(self, table: str):
        self._log.append(("load", self.fmt, dict(self.options), table))
        return f"DF({table})"


class _StubResult:
    def __init__(self, rows: list) -> None:
        self._rows = rows

    def collect(self) -> list:
        return self._rows


class _StubSpark:
    """Records every sql() text and exposes a recording DataFrameReader."""

    def __init__(self, sql_results=None) -> None:
        self.log: list = []
        self.sql_queue = list(sql_results or [])

    def sql(self, query: str) -> _StubResult:
        self.log.append(("sql", " ".join(query.split())))
        return _StubResult(self.sql_queue.pop(0) if self.sql_queue else [])

    @property
    def read(self) -> _StubReader:
        return _StubReader(self.log)


class _StubWriter:
    def __init__(self, log: list, table: str) -> None:
        self._log = log
        self._table = table
        self._options: dict[str, str] = {}

    def option(self, key: str, value: str):
        self._options[key] = value
        return self

    def append(self) -> None:
        self._log.append(("append", self._table, dict(self._options)))


class _StubDF:
    def __init__(self, log: list) -> None:
        self._log = log

    def writeTo(self, table: str) -> _StubWriter:
        self._log.append(("writeTo", table))
        return _StubWriter(self._log, table)


def test_read_current_and_time_travel():
    spark = _StubSpark()
    store = IcebergSnapshotStore(spark, TABLE)
    assert store.read() == f"DF({TABLE})"
    assert spark.log[-1] == ("load", "iceberg", {}, TABLE)
    store.read(snapshot_id=42)
    assert spark.log[-1] == ("load", "iceberg", {"snapshot-id": "42"}, TABLE)


def test_current_snapshot_id_queries_metadata_table():
    spark = _StubSpark(sql_results=[[{"snapshot_id": 7}]])
    assert IcebergSnapshotStore(spark, TABLE).current_snapshot_id() == 7
    kind, text = spark.log[0]
    assert kind == "sql"
    assert f"FROM {TABLE}.snapshots" in text
    assert "ORDER BY committed_at DESC LIMIT 1" in text
    # empty metadata table → None, not an exception
    assert IcebergSnapshotStore(_StubSpark(), TABLE).current_snapshot_id() is None


def test_read_delta_incremental_options():
    spark = _StubSpark()
    store = IcebergSnapshotStore(spark, TABLE)
    store.read_delta(10, 20)
    assert spark.log[-1] == (
        "load",
        "iceberg",
        {"start-snapshot-id": "10", "end-snapshot-id": "20"},
        TABLE,
    )
    # to_id defaults to the current snapshot (one metadata query first)
    spark2 = _StubSpark(sql_results=[[{"snapshot_id": 33}]])
    IcebergSnapshotStore(spark2, TABLE).read_delta(10)
    assert spark2.log[-1][2] == {
        "start-snapshot-id": "10",
        "end-snapshot-id": "33",
    }
    # empty store: explicit error, not a full-table scan
    with pytest.raises(ValueError, match="no snapshots"):
        IcebergSnapshotStore(_StubSpark(), TABLE).read_delta(10)


def test_append_untagged_commits_then_reads_back_id():
    spark = _StubSpark(sql_results=[[{"snapshot_id": 5}]])
    store = IcebergSnapshotStore(spark, TABLE)
    assert store.append(_StubDF(spark.log)) == 5
    kinds = [e[0] for e in spark.log]
    # writeTo → append happen BEFORE the current-snapshot readback
    assert kinds == ["writeTo", "append", "sql"]
    assert spark.log[1] == ("append", TABLE, {})


def test_append_tagged_sets_commit_property_and_is_idempotent():
    # fresh tag: lookup misses, commit carries the snapshot property
    spark = _StubSpark(sql_results=[[], [{"snapshot_id": 9}]])
    store = IcebergSnapshotStore(spark, TABLE)
    assert store.append(_StubDF(spark.log), tag="batch-3") == 9
    lookup = spark.log[0][1]
    assert f"FROM {TABLE}.snapshots" in lookup
    assert "summary['commit-tag'] = 'batch-3'" in lookup
    assert (
        "append",
        TABLE,
        {"snapshot-property.commit-tag": "batch-3"},
    ) in spark.log
    # replayed tag: lookup hits, NO writer is created (exactly-once)
    spark2 = _StubSpark(sql_results=[[{"snapshot_id": 9}]])
    store2 = IcebergSnapshotStore(spark2, TABLE)
    assert store2.append(_StubDF(spark2.log), tag="batch-3") == 9
    assert [e[0] for e in spark2.log] == ["sql"]


def test_tag_charset_guard_blocks_sql_injection():
    spark = _StubSpark()
    store = IcebergSnapshotStore(spark, TABLE)
    evil = "x' OR '1'='1"
    with pytest.raises(ValueError, match="snapshot tag"):
        store.append(_StubDF(spark.log), tag=evil)
    assert spark.log == []  # rejected before any SQL was issued
