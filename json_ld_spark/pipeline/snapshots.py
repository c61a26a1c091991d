"""Snapshot-pinned table IO: Iceberg API surface + parquet stand-in.

North-rule S1/K1 name true Iceberg semantics: snapshot-pinned reads
(``option("snapshot-id", …)``) and atomic-snapshot appends (``writeTo``).
This module provides one ``SnapshotStore`` contract with two
implementations:

- ``IcebergSnapshotStore`` — the real API calls, for deployments with an
  Iceberg catalog on the classpath. Not executable in this sandbox (no
  Iceberg jars). Start the session with the catalog conf::

      spark-submit \
        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
        --conf spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog \
        --conf spark.sql.catalog.kg.type=hadoop \
        --conf spark.sql.catalog.kg.warehouse=hdfs://…/warehouse \
        <your driver script>

  then build the store in code and hand it to a pipeline::

      store = IcebergSnapshotStore(spark, "kg.db.transcripts")
      run_snapshot_pipeline(spark, store, warehouse)             # full build
      run_incremental_snapshot_pipeline(spark, store, warehouse) # append

- ``ParquetSnapshotStore`` — the sandbox default: the SAME contract over
  parquet with real snapshot semantics. Each ``append`` writes an
  immutable data directory and then atomically commits a new snapshot
  entry (``snapshots.json`` via ``atomic_write``, the commit point);
  ``read(snapshot_id)`` sees exactly the data committed at that
  snapshot, so a resumed job re-reads the SAME input even if appends
  landed meanwhile — the "resume idempotently from the last committed
  snapshot" clause, honored for real and tested
  (tests/test_pipeline_snapshots.py).

``atomic_write`` is the pipeline's one commit step: the snapshot log, the
manifest rows (manifest.py) and the entity-state pointer (job.py).

Single-writer by design (one driver commits); Iceberg's optimistic
concurrency takes over on real deployments.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import IO, Callable, Optional

from pyspark.sql import DataFrame, SparkSession


def atomic_write(path: str, write: Callable[[IO], None]) -> None:
    """Durably replace ``path``: ``write(fh)`` fills the binary file
    ``path + ".tmp"``, which is fsynced and then ``os.replace``d onto
    ``path`` — the commit point. A crash before the rename leaves only a
    ``.tmp`` leftover that no reader looks at."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        write(fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _check_tag(tag: str) -> None:
    """Snapshot tags are interpolated into Iceberg metadata SQL (which has
    no parameter binding), so both stores accept only a safe charset: a
    quoted tag must never break out of the literal."""
    if not re.fullmatch(r"[A-Za-z0-9_.:-]+", tag):
        raise ValueError(
            f"snapshot tag must match [A-Za-z0-9_.:-]+, got {tag!r}"
        )


class IcebergSnapshotStore:
    """Iceberg-backed store: ``writeTo().append()`` + snapshot-id reads.

    Mirrors SURVEY §2 S1/K1. Requires an Iceberg catalog (see module
    docstring); every method is a thin veneer over the public API so the
    surface stays auditable.
    """

    def __init__(self, spark: SparkSession, table: str) -> None:
        self.spark = spark
        self.table = table

    def current_snapshot_id(self) -> Optional[int]:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return rows[0]["snapshot_id"] if rows else None

    def read(self, snapshot_id: Optional[int] = None) -> DataFrame:
        reader = self.spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(self.table)

    def read_delta(self, from_id: int, to_id: Optional[int] = None) -> DataFrame:
        """Rows ADDED strictly after snapshot ``from_id`` up to ``to_id``
        (default: current), via Iceberg's public incremental-read options
        (``start-snapshot-id`` exclusive / ``end-snapshot-id`` inclusive) —
        the same contract ParquetSnapshotStore.read_delta implements with
        delta manifests, so ``run_incremental_snapshot_pipeline`` works
        over either store."""
        reader = self.spark.read.format("iceberg").option(
            "start-snapshot-id", str(from_id)
        )
        if to_id is None:
            to_id = self.current_snapshot_id()
            if to_id is None:
                raise ValueError("store has no snapshots")
        reader = reader.option("end-snapshot-id", str(to_id))
        return reader.load(self.table)

    def append(
        self, df: DataFrame, tag: Optional[str] = None
    ) -> Optional[int]:
        """Atomic snapshot commit. ``tag`` implements the same idempotent
        replay contract as ParquetSnapshotStore.append (the streaming
        foreachBatch exactly-once hook): the tag is recorded as a snapshot
        summary property via the write's commit metadata, and an append
        whose tag already exists in the snapshots metadata table is a
        no-op returning the original snapshot id. Tags pass ``_check_tag``
        before any SQL is issued."""
        if tag is not None:
            _check_tag(tag)
            rows = self.spark.sql(
                f"SELECT snapshot_id FROM {self.table}.snapshots "
                f"WHERE summary['commit-tag'] = '{tag}' LIMIT 1"
            ).collect()
            if rows:
                return rows[0]["snapshot_id"]
            writer = df.writeTo(self.table).option(
                "snapshot-property.commit-tag", tag
            )
        else:
            writer = df.writeTo(self.table)
        writer.append()  # atomic snapshot commit
        return self.current_snapshot_id()


class ParquetSnapshotStore:
    """Parquet stand-in with genuine snapshot semantics (sandbox default).

    Layout::

        root/
          data/<uuid>/part-*.parquet   # immutable append payloads
          snapshots.json               # [{id, added:[dir], ts, tag?}, ...]

    Each snapshot entry records only the dirs it ADDED (an Iceberg-style
    delta manifest): metadata stays O(n) over n commits instead of the
    O(n²) a cumulative-list-per-entry format would cost a long-running
    streaming ingest; ``read(snapshot_id)`` unions the deltas up to that
    id. The ``snapshots.json`` rewrite via ``atomic_write`` is the
    commit point: a crash mid-append leaves an orphan data dir that no
    snapshot references (invisible to every reader) — the same guarantee
    an Iceberg metadata-pointer swap gives.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_path = os.path.join(root, "snapshots.json")
        os.makedirs(self.data_dir, exist_ok=True)

    def _snapshots(self) -> list[dict]:
        if not os.path.exists(self.meta_path):
            return []
        with open(self.meta_path) as f:
            return json.load(f)

    def current_snapshot_id(self) -> Optional[int]:
        snaps = self._snapshots()
        return snaps[-1]["id"] if snaps else None

    def read(self, snapshot_id: Optional[int] = None) -> DataFrame:
        snaps = self._snapshots()
        if not snaps:
            raise ValueError("store has no snapshots")
        if snapshot_id is None:
            snapshot_id = snaps[-1]["id"]
        elif not any(s["id"] == snapshot_id for s in snaps):
            raise ValueError(f"unknown snapshot id {snapshot_id}")
        dirs = [
            d for s in snaps if s["id"] <= snapshot_id for d in s["added"]
        ]
        return self.spark.read.parquet(*dirs)

    def read_delta(self, from_id: int, to_id: Optional[int] = None) -> DataFrame:
        """Rows ADDED strictly after snapshot ``from_id`` up to ``to_id``
        (default: current) — the append-delta an incremental consumer
        (pipeline/job.run_incremental_snapshot_pipeline) feeds downstream
        instead of re-reading the whole table. Delta manifests make this a
        pure metadata operation (the Iceberg incremental-read shape)."""
        snaps = self._snapshots()
        if to_id is None:
            if not snaps:
                raise ValueError("store has no snapshots")
            to_id = snaps[-1]["id"]
        dirs = [
            d
            for s in snaps
            if from_id < s["id"] <= to_id
            for d in s["added"]
        ]
        if not dirs:
            raise ValueError(f"empty delta ({from_id}, {to_id}]")
        return self.spark.read.parquet(*dirs)

    def append(self, df: DataFrame, tag: Optional[str] = None) -> int:
        """Append a snapshot; ``tag`` makes the commit idempotent: a second
        append with an already-committed tag is a no-op returning the
        original snapshot id. This is the exactly-once hook for the
        transcript stream's ``foreachBatch`` commits (tag = query id +
        micro-batch id, see streaming/ingest.py): a replayed batch
        after a crash re-writes an orphan data dir at worst, never a second
        snapshot — the same write-idempotence contract Iceberg gives
        ``writeTo().append()`` under Spark's commit coordinator.

        Both stores check tags with ``_check_tag`` (pinned by tests)."""
        snaps = self._snapshots()
        if tag is not None:
            _check_tag(tag)
            for s in snaps:
                if s.get("tag") == tag:
                    return s["id"]
        out = os.path.join(self.data_dir, uuid.uuid4().hex[:12])
        df.write.parquet(out)
        snaps = self._snapshots()
        new_id = (snaps[-1]["id"] + 1) if snaps else 1
        entry = {"id": new_id, "added": [out], "ts": time.time()}
        if tag is not None:
            entry["tag"] = tag
        snaps.append(entry)
        atomic_write(
            self.meta_path, lambda fh: fh.write(json.dumps(snaps).encode())
        )
        return new_id
