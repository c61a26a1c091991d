"""End-to-end KG-construction job (SURVEY.md §3.4 lifecycle).

    transcripts → [resume filter] → turn dedup → mapInPandas kernel
    → single partitioned write → per-bucket manifest commit
    → entity linking → block canonicalization → nodes/edges

Run via ``spark-submit --py-files`` (see bench.py / scripts). The job is
idempotent: killed after bucket k's manifest commit, a re-run processes only
pending buckets and the final triples table is identical
(tests/test_pipeline_resume.py).

Scale shape (a job per bucket would rescan the full input once per bucket
and extract the buckets one after another; at 100 TB that is the
difference between 1 pass and 32):

1. ONE extraction job writes every pending bucket via
   ``partitionBy("bucket")`` with dynamic partition overwrite — all buckets
   extract in parallel, the source is scanned exactly once, and committed
   buckets' directories are never touched. Per-bucket input-row counts ride
   the same action as ``observe()`` counters, so counting them costs no
   second source scan.
2. ONE grouped metrics job aggregates clean/error/checksum for every
   written bucket directory (jobs per bucket, run driver-serially, would
   hit the job-launch-latency wall at 10^3+ buckets).
3. A driver-side loop then writes only the tiny atomic manifest rows —
   each a one-row ``pyarrow.parquet`` write committed by ``atomic_write``
   on the driver, no Spark job (manifest.py; on a real deployment the
   Iceberg ``writeTo(...).append()`` takes its place). The manifest row
   remains the commit point, so resume granularity is still per-bucket: a
   crash mid-loop leaves later buckets pending, and the re-run's dynamic
   overwrite of those partitions is idempotent.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..contexts import ContextDict
from .entity import (
    CANON_SCHEMA, EDGE_SCHEMA, ENTITY_SCHEMA, canonicalize, derive_nodes,
    entity_local_name, incremental_canonicalize,
)
from .extract import TRIPLE_SCHEMA, extract_triples
from .manifest import ParquetManifest, bucket_of
from .snapshots import atomic_write


@dataclass
class JobResult:
    run_id: str
    buckets_processed: int
    triples: DataFrame
    nodes: Optional[DataFrame] = None
    edges: Optional[DataFrame] = None


def run_extraction_job(
    spark: SparkSession,
    transcripts: DataFrame,
    warehouse: str,
    n_buckets: int = 16,
    contexts: Optional[ContextDict] = None,
    with_entity_layer: bool = False,
    snapshot_id: Optional[str] = None,
) -> JobResult:
    """Single-pass bucketed extraction with manifest commit + resume."""
    from pyspark.sql import Observation

    run_id = uuid.uuid4().hex[:12]
    manifest = ParquetManifest(spark, warehouse, n_buckets)
    pending = manifest.pending_buckets()
    # a no-op resume (every bucket committed) skips straight to the common
    # tail: the derived node/edge tables are still (re)computed when
    # requested — returning nodes=None would crash re-runs of the
    # production entrypoint
    processed = 0
    if pending:
        bucketed = transcripts.withColumn(
            "bucket", bucket_of(F.col("conv_id"), n_buckets)
        ).where(F.col("bucket").isin(pending))

        # per-bucket input-row counts ride the extraction action itself via
        # observe() — map-side conditional counters collected while the write
        # job runs, so the source is scanned exactly ONCE (a separate count
        # job would be a second full scan). One counter per pending bucket
        # is fine for the Iceberg-typical 16–1024 bucket range; a 10^4+
        # bucket spec would batch commits into counter groups instead.
        obs = Observation(f"input_rows_{run_id}")
        bucketed = bucketed.observe(
            obs,
            *[
                F.sum(F.when(F.col("bucket") == b, 1).otherwise(0))
                .cast("long")
                .alias(f"b{b}")
                for b in pending
            ],
        )

        # the one extraction job — extract + write ALL pending buckets in one
        # pass. The bucket column is a pure function of conv_id, so it is
        # re-derived on the kernel output rather than threaded through the
        # Arrow boundary. dedup_turns=True enforces the (conv_id, turn_idx)
        # uniqueness precondition of the in-kernel triple dedup on this batch
        # path (replayed/retried turn rows are common in real transcript
        # corpora).
        triples = extract_triples(
            bucketed, contexts, dedup_turns=True
        ).withColumn("bucket", bucket_of(F.col("conv_id"), n_buckets))
        # dynamic overwrite replaces only the written buckets; set on this
        # writer, it leaves the shared session's mode to concurrent jobs
        triples.write.partitionBy("bucket").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(manifest.triples_dir)
        observed = obs.get
        # sum() over zero rows observes NULL, not 0 — normalize (the
        # all-pending-buckets-empty resume case)
        input_rows = {b: observed[f"b{b}"] or 0 for b in pending}

        # ONE grouped metrics job over every written bucket directory, then a
        # driver loop that only writes the tiny atomic manifest rows — commit
        # granularity is still per-bucket.
        stats = manifest.bucket_stats(pending)
        for bucket in pending:
            manifest.commit_bucket(
                run_id, bucket, input_rows.get(bucket, 0), stats.get(bucket),
                snapshot_id,
            )
            processed += 1

    result = JobResult(run_id, processed, manifest.read_triples())
    if with_entity_layer:
        _, result.nodes, result.edges = canonicalize(result.triples)
    return result


def run_snapshot_pipeline(
    spark: SparkSession,
    store,
    warehouse: str,
    n_buckets: int = 16,
) -> JobResult:
    """Extraction job over a SnapshotStore (pipeline/snapshots.py) with the
    input snapshot PINNED across resume: the first run records the store's
    current snapshot id in every manifest row; a resumed run re-reads that
    same snapshot, so appends committed between crash and resume cannot
    leak into this run's output (north rule: resume idempotently from the
    last committed snapshot). A later fresh run (new warehouse) picks up
    the newer snapshot. Returns the triples, nodes and edges, as
    ``run_extraction_job(..., with_entity_layer=True)`` does."""
    manifest = ParquetManifest(spark, warehouse, n_buckets)
    pinned = manifest.pinned_snapshot()
    if pinned is None:
        current = store.current_snapshot_id()
        if current is None:
            raise ValueError("snapshot store is empty")
        pinned = str(current)
    transcripts = store.read(int(pinned))
    return run_extraction_job(
        spark, transcripts, warehouse, n_buckets, with_entity_layer=True,
        snapshot_id=pinned,
    )


# The snapshot state of run_incremental_snapshot_pipeline: one parquet
# table per name under warehouse/entity_state/v<N>/, with its schema.
STATE_SCHEMAS = {
    "triples": TRIPLE_SCHEMA, "entities": ENTITY_SCHEMA,
    "canon": CANON_SCHEMA, "edges": EDGE_SCHEMA,
}


def _state_meta(state_dir: str) -> Optional[dict]:
    """The committed state pointer (``snapshot_id``, ``version``), or None
    before the first commit."""
    path = os.path.join(state_dir, "state.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def read_entity_state(
    spark: SparkSession, warehouse: str
) -> Optional[dict[str, DataFrame]]:
    """The committed snapshot state under ``warehouse``: one lazy frame per
    ``STATE_SCHEMAS`` table, or None before the first commit. Each table is
    read with its explicit schema, so this launches no Spark job (a parquet
    read without one runs a schema-inference job)."""
    state_dir = os.path.join(warehouse, "entity_state")
    meta = _state_meta(state_dir)
    if meta is None:
        return None
    v = os.path.join(state_dir, f"v{meta['version']}")
    return {
        name: spark.read.schema(schema).parquet(os.path.join(v, name))
        for name, schema in STATE_SCHEMAS.items()
    }


def run_incremental_snapshot_pipeline(
    spark: SparkSession,
    store,
    warehouse: str,
    contexts: Optional[ContextDict] = None,
) -> JobResult:
    """Append-incremental entity layer over a SnapshotStore: the first run
    bootstraps (full extraction + canonicalization); each later run
    extracts ONLY the snapshot delta (``store.read_delta``), re-labels
    only the blocks a new entity touches and re-aggregates only the edge
    groups a changed canon touches (``entity.incremental_canonicalize``).
    State (the ``STATE_SCHEMAS`` tables + the last processed snapshot id)
    lives under ``warehouse/entity_state``; its ``state.json`` pointer
    commits through ``snapshots.atomic_write``, the same commit step as
    the manifest rows and the snapshot log. ``read_entity_state`` reads
    the state back without a Spark job. Nodes are not stored: the result
    derives them from ``canon``, as the full build does.

    At 10^12 turns this turns a snapshot append from "re-label every entity
    and run two rewrite joins over every triple" into O(delta + affected
    blocks) — the only full-corpus work left is the semi-join-filtered
    old-triple scan for changed canons and the state rewrite.
    """
    state_dir = os.path.join(warehouse, "entity_state")
    os.makedirs(state_dir, exist_ok=True)
    meta_path = os.path.join(state_dir, "state.json")
    current = store.current_snapshot_id()
    if current is None:
        raise ValueError("snapshot store is empty")
    meta = _state_meta(state_dir)
    run_id = uuid.uuid4().hex[:12]

    def _result(processed: int) -> JobResult:
        state = read_entity_state(spark, warehouse)
        return JobResult(
            run_id, processed, state["triples"],
            derive_nodes(state["canon"]), state["edges"],
        )

    if meta is None:
        # bootstrap: full pipeline over the current snapshot. The kernel
        # pass is the job's most expensive stage — checkpoint it once so
        # canonicalize and the state write don't each re-run extraction
        # from scratch.
        triples = extract_triples(
            store.read(current), contexts, dedup_turns=True
        ).localCheckpoint()
        canon, _, edges = canonicalize(triples)
    elif current == meta["snapshot_id"]:
        return _result(0)
    else:
        prev = read_entity_state(spark, warehouse)
        new_triples = extract_triples(
            store.read_delta(meta["snapshot_id"], current), contexts,
            dedup_turns=True,
        ).localCheckpoint()
        canon, _, edges = incremental_canonicalize(
            prev["triples"], new_triples,
            prev["entities"], prev["canon"], prev["edges"],
        )
        triples = prev["triples"].unionByName(new_triples)

    # one canon row per entity: the dictionary is its IRI column. It is
    # stored only because the benchmark's append probe reads it (ROADMAP
    # item 2); canon already implies it.
    entities = canon.select(
        F.col("iri").alias("entity_iri"),
        entity_local_name(F.col("iri")).alias("block_key"),
    )
    tables = {
        "triples": triples, "entities": entities, "canon": canon,
        "edges": edges,
    }
    # crash-atomic versioned commit: the ENTIRE new state lands under a
    # fresh v<N+1> directory while the previous version stays intact (the
    # new DataFrames are lazy plans READING the old state), then ONE
    # atomic_write of state.json — the single commit point — flips the
    # pointer. A crash anywhere before the pointer swap leaves v<N>
    # authoritative and v<N+1> an invisible orphan, so the next run
    # re-applies the delta against the OLD state exactly once (no
    # duplicated triples / double-counted provenance, unlike a dir-by-dir
    # rename sequence). Old versions are pruned only after the swap,
    # best-effort.
    new_version = (meta["version"] if meta else 0) + 1
    for name in STATE_SCHEMAS:
        tables[name].write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{new_version}", name)
        )
    pointer = {"snapshot_id": current, "version": new_version}
    atomic_write(meta_path, lambda fh: fh.write(json.dumps(pointer).encode()))
    for entry in os.listdir(state_dir):
        if entry.startswith("v") and entry != f"v{new_version}":
            shutil.rmtree(os.path.join(state_dir, entry), ignore_errors=True)
    return _result(1)
