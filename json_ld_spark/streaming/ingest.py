"""Structured-Streaming transcript ingest (SURVEY.md §2 Table B, streaming rows).

New transcript files (an Iceberg streaming read on a real deployment; a
file source here — same DataFrame surface) land as atomic snapshot
commits in a ``SnapshotStore``. Extraction and the entity layer stay
batch: ``pipeline/job.run_incremental_snapshot_pipeline`` folds the
committed snapshot deltas into the KG, so the snapshot id sequence is the
only coupling between the stream and the KG build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

_MAX_FILES_PER_TRIGGER = 8


def stream_transcript_source(spark: SparkSession, path: str) -> DataFrame:
    """File-based streaming source over transcript parquet drops.

    On a real cluster this is ``spark.readStream.format("iceberg")`` with
    ``stream-from-timestamp``; the downstream plan is identical because both
    produce the same (conv_id, turn_idx, role, text, tool, ts) rows.
    ``maxFilesPerTrigger`` bounds micro-batch size so one giant backfill
    drop cannot blow executor memory — the streaming analogue of
    ``spark.sql.files.maxPartitionBytes``.
    """
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", str(_MAX_FILES_PER_TRIGGER))
        .parquet(path)
    )


def run_stream_transcripts_to_snapshots(
    spark: SparkSession,
    source_dir: str,
    store,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Land RAW transcript micro-batches as atomic snapshot commits — the
    ingest half of the continuously-maintained KG. Each drained batch
    becomes ONE tagged ``store.append``, so a crash-replayed batch finds
    its tag committed and is a no-op; ``available_now=True`` drains the
    backlog and stops, ``False`` runs continuously.

    The tag is ``transcripts-<query id>-batch-<n>``. The streaming query
    id is minted with the checkpoint (``<checkpoint>/metadata``), and
    Spark hands it to each batch as the ``sql.streaming.queryId`` local
    property. Batch ids alone restart at 0 when a checkpoint is wiped or
    relocated, and the replay guard would then silently discard new
    batches as already-committed ones.

    A fresh checkpoint re-reads the whole source, so its batches land the
    backlog again under new tags (at-least-once across a lost
    checkpoint). ``run_incremental_snapshot_pipeline`` dedups turns only
    within each delta, so a turn that lands in two snapshots counts twice
    in the KG it appends to; a full build over the store counts it once.
    """

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        sc = batch_df.sparkSession.sparkContext
        query_id = sc.getLocalProperty("sql.streaming.queryId")
        store.append(batch_df, tag=f"transcripts-{query_id}-batch-{batch_id}")

    writer = (
        stream_transcript_source(spark, source_dir)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
