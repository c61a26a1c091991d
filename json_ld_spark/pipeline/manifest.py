"""Per-partition lineage manifest + idempotent resume (SURVEY.md §2 K2).

The north rule requires the job to checkpoint per-partition lineage and
triple-count metrics to a manifest table and resume idempotently. Without an
Iceberg catalog in the sandbox, the same contract is implemented over
parquet with an atomic-rename commit per work unit; on a real deployment the
``writeTo(...).append()`` path swaps in with the identical manifest schema
(run_id, partition_id, n_buckets, input_rows, triples_out, errors, checksum,
ts — the snapshot_id column then carries the Iceberg snapshot).

A commit is a driver-side write, not a Spark job: the one-row file is
written with ``pyarrow.parquet`` through ``snapshots.atomic_write`` (the
pipeline's one commit step: ``bucket_<b>.parquet.tmp``, fsync, rename to
``bucket_<b>.parquet``). Only ``*.parquet`` files count as committed, so a
crash before the rename (a leftover ``.tmp``) leaves the bucket pending. A
Spark job would add ~1 s of fixed job overhead to each one-row commit; the
pyarrow write takes about a millisecond. The committed-bucket and
pinned-snapshot lookups read the manifest files with pyarrow for the same
reason; ``read_manifest`` still returns the table as a DataFrame.

Resume = ``pending_buckets()`` (the committed bucket ids, read with
pyarrow) plus an ``isin`` filter of the input on the pending buckets:
already-done units are skipped, so re-running after a failure appends only
the missing partitions and the final table is byte-identical (FIXTURES.md
§5.2). Each row records the bucket count it was committed under; a re-run
with another count raises before any write, since its bucket ids would name
other conversations and extract committed ones a second time.

Work unit = a hash bucket of conv_id (``pmod(xxhash64(conv_id), n_buckets)``)
— the same hidden-partitioning function an Iceberg ``bucket(conv_id)`` spec
uses, so lineage is stable across cluster sizes and retries.
"""

from __future__ import annotations

import os
import time
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .extract import TRIPLE_SCHEMA
from .snapshots import atomic_write

MANIFEST_SCHEMA = (
    "run_id string, partition_id int, n_buckets int, input_rows long, "
    "triples_out long, errors long, checksum string, snapshot_id string, "
    "ts double"
)

_ARROW_TYPES = {
    "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
    "double": pa.float64(),
}
# the parquet schema of a manifest file; Spark reads it back as exactly
# StructType.fromDDL(MANIFEST_SCHEMA) (pinned in test_pipeline_resume)
MANIFEST_ARROW_SCHEMA = pa.schema([
    (name, _ARROW_TYPES[ty])
    for name, ty in (f.split() for f in MANIFEST_SCHEMA.split(","))
])

# the triples table: the extraction output plus its ``bucket`` partition
# column. Reading with it given skips Spark's schema-inference job (one
# Spark job per read, just to open a parquet footer).
_TRIPLES_TABLE_SCHEMA = StructType(
    TRIPLE_SCHEMA.fields + [StructField("bucket", IntegerType())]
)


def bucket_of(col: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class ParquetManifest:
    """Manifest table over a directory of per-bucket parquet commits."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16) -> None:
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.manifest_dir = os.path.join(root, "manifest")
        self.triples_dir = os.path.join(root, "triples")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.triples_dir, exist_ok=True)

    def _manifest_files(self) -> list[str]:
        return [
            os.path.join(self.manifest_dir, f)
            for f in os.listdir(self.manifest_dir)
            if f.endswith(".parquet")
        ]

    def committed_buckets(self) -> set[int]:
        done = set()
        for f in self._manifest_files():
            t = pq.read_table(f, columns=["partition_id", "n_buckets"])
            for b, n in zip(*(c.to_pylist() for c in t.columns)):
                if n != self.n_buckets:
                    raise ValueError(
                        f"warehouse {self.root} was committed with {n} "
                        f"buckets; this run asks for {self.n_buckets}"
                    )
                done.add(b)
        return done

    def pending_buckets(self) -> list[int]:
        done = self.committed_buckets()
        return [b for b in range(self.n_buckets) if b not in done]

    def pinned_snapshot(self) -> Optional[str]:
        """Input snapshot id recorded by previously committed buckets, if
        any — a resumed run MUST re-read the same snapshot (north rule:
        resume idempotently from the last committed snapshot), so new
        appends between crash and resume don't leak into this run."""
        for f in self._manifest_files():
            ids = pq.read_table(f, columns=["snapshot_id"]).column(0)
            for sid in ids.to_pylist():
                if sid is not None:
                    return sid
        return None

    def bucket_stats(self, buckets: list[int]) -> dict[int, dict]:
        """Per-bucket commit metrics (clean count, error count, checksum) in
        ONE grouped aggregate over all the buckets' written directories.

        Three Spark jobs per bucket (clean-count, error-count, checksum),
        run driver-serially, would hit the job-launch-latency wall at a
        realistic 10^3–10^4 buckets. Here the partition-discovered
        ``bucket`` column groups the whole sweep into one job whose result
        is ≤ n_buckets tiny rows; the manifest-row write (the atomic commit
        point) stays per-bucket, so crash/resume granularity is unchanged.
        Buckets with no directory (zero emitted rows) simply have no entry
        — callers commit them with zero metrics."""
        dirs = [
            d
            for d in (
                os.path.join(self.triples_dir, f"bucket={b}") for b in buckets
            )
            if os.path.isdir(d)
        ]
        if not dirs:
            return {}
        written = (
            self.spark.read.schema(_TRIPLES_TABLE_SCHEMA)
            .option("basePath", self.triples_dir)
            .parquet(*dirs)
        )
        rows = (
            written.groupBy("bucket")
            .agg(
                F.sum(
                    F.when(F.col("error_code").isNull(), 1).otherwise(0)
                ).cast("long").alias("triples_out"),
                F.sum(
                    F.when(F.col("error_code").isNotNull(), 1).otherwise(0)
                ).cast("long").alias("errors"),
                F.sum(
                    F.conv(
                        F.substring(
                            F.sha2(
                                F.concat_ws(
                                    "|", "conv_id", "turn_idx", "subj",
                                    "pred", "obj_value",
                                ),
                                256,
                            ),
                            1, 8,
                        ),
                        16, 10,
                    ).cast("long")
                ).alias("checksum"),
            )
            .collect()
        )
        return {
            int(r["bucket"]): {
                "triples_out": r["triples_out"],
                "errors": r["errors"],
                "checksum": str(r["checksum"] if r["checksum"] is not None else 0),
            }
            for r in rows
        }

    def commit_bucket(
        self,
        run_id: str,
        bucket: int,
        input_rows: int,
        stats: Optional[dict],
        snapshot_id: Optional[str] = None,
    ) -> dict:
        """Write the atomic manifest row for one completed bucket.

        ``stats=None`` is the zero-output bucket: the dynamic-partition
        write created no directory for it (its conversations carry no
        JSON-bearing turns, or the hash assigned it none) — still a
        completed unit of work that MUST commit, otherwise the warehouse
        would re-crash on the missing path at every resume
        (regression-pinned in test_pipeline_resume)."""
        row = {
            "run_id": run_id,
            "partition_id": bucket,
            "n_buckets": self.n_buckets,
            "snapshot_id": None if snapshot_id is None else str(snapshot_id),
            "ts": time.time(),
            **(stats or {"triples_out": 0, "errors": 0, "checksum": "0"}),
            "input_rows": input_rows,
        }
        table = pa.Table.from_pylist([row], schema=MANIFEST_ARROW_SCHEMA)
        atomic_write(
            os.path.join(self.manifest_dir, f"bucket_{bucket}.parquet"),
            lambda fh: pq.write_table(table, fh),
        )
        return row

    def read_triples(self) -> DataFrame:
        return self.spark.read.schema(_TRIPLES_TABLE_SCHEMA).parquet(
            self.triples_dir
        )

    def read_manifest(self) -> DataFrame:
        return self.spark.read.parquet(*self._manifest_files())
