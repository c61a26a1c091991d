"""Structured-Streaming incremental KG ingest (SURVEY.md §2 Table B, streaming rows).

Continuous variant of the batch pipeline: new transcript files (an Iceberg
streaming read on a real deployment; a file source here — same DataFrame
surface) flow through the identical Arrow-batched extraction kernel and land
in an append-only triples sink with exactly-once file-sink semantics from
Spark's checkpoint.

Design notes, 100 TB shape:
- The extraction kernel (``extract_triples``) is stateless per-turn, so the
  streaming plan stays a stateless mapInPandas — no state store, no
  watermark needed for the transform itself.
- Late/duplicate data: ``dropDuplicatesWithinWatermark`` on
  (conv_id, turn_idx) with an event-time watermark on ``ts`` bounds state —
  the batch job's global dropDuplicates is unbounded-state in streaming and
  deliberately avoided (`withWatermark` + within-watermark dedup is the
  canonical Spark pattern for exactly-this).
- Entity linking / canonicalization stay batch: a block's canonical id
  depends on every member of the block; the streaming layer lands raw
  triples and the batch canonicalization job periodically folds them in
  (classic lambda-free "streaming ingest + periodic batch consolidation").

Reference tie-in: the kernel applied per micro-batch is the same A1-A33
surface (see json_ld_spark/kernel/*, citing /root/reference/src/*.rs);
streaming only changes the source/sink contract, exactly as SURVEY.md
Table B marks these rows as pipeline scaffolding, not reference algorithms.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..contexts import ContextDict
from ..pipeline.extract import extract_triples

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

# Files per micro-batch, the event-time lateness bound on ``ts`` and the
# tumbling window of ``windowed_turn_stats``.
_MAX_FILES_PER_TRIGGER = 8
_WATERMARK = "1 hour"
_WINDOW = "10 minutes"


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


def stream_extract_triples(
    transcripts: DataFrame,
    contexts: Optional[ContextDict] = None,
    dedup_within_watermark: bool = True,
) -> DataFrame:
    """Streaming plan: watermark → within-watermark turn dedup → kernel.

    Turn-level dedup runs *before* the Python boundary so replayed files
    never pay kernel CPU twice. Triple-level exact dedup is the batch
    path's per-turn rule inside the kernel, which keeps no state.
    """
    stream = transcripts.withWatermark("ts", _WATERMARK)
    if dedup_within_watermark:
        stream = stream.dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    # ts must survive for the sink's event-time bookkeeping; the kernel
    # operates on the 4 pruned columns internally.
    return extract_triples(stream, contexts)


def windowed_turn_stats(transcripts: DataFrame) -> DataFrame:
    """Tumbling-window incremental aggregation with late-data semantics
    (SURVEY §2 Table B streaming row): per-(window, role) turn counts and
    an HLL distinct-conversation sketch.

    The same plan runs batch or streaming. In streaming append mode the
    watermark is the late-data contract: a window emits exactly once, when
    the watermark passes its end; rows arriving later than ``_WATERMARK``
    behind max event time are dropped and surface in the query progress as
    ``stateOperators[].numRowsDroppedByWatermark`` — and window state is
    freed, so state size is bounded by (_WATERMARK / _WINDOW) × |roles|
    regardless of stream length. approx_count_distinct's HLL merge is
    order-independent, so stream and batch agree exactly on finalized
    windows (pinned by tests/test_streaming_ingest.py)."""
    return (
        transcripts.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", _WINDOW).alias("w"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("n_convs_approx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
            "n_convs_approx",
        )
    )


def run_windowed_stats_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Drain ``source_dir`` through the windowed aggregation into parquet
    (append mode: only watermark-finalized windows are written)."""
    transcripts = stream_transcript_source(spark, source_dir)
    stats = windowed_turn_stats(transcripts)
    return _parquet_sink(stats, sink_dir, checkpoint_dir, available_now)


def run_stream_to_snapshots(
    spark: SparkSession,
    source_dir: str,
    store,
    checkpoint_dir: str,
    contexts: Optional[ContextDict] = None,
    available_now: bool = True,
):
    """Streaming extraction landing ATOMIC SNAPSHOTS: each micro-batch of
    triples commits as one SnapshotStore append (pipeline/snapshots.py),
    so downstream batch consolidation can pin a snapshot id and the whole
    lambda-free architecture closes: stream → snapshot commits → batch
    canonicalization pinned to a snapshot → idempotent resume.

    Exactly-once across restarts: ``foreachBatch`` can replay a batch
    after a crash; the store's tagged append (see :func:`_snapshot_sink`)
    makes the replay a no-op, so no double-counting even when the
    checkpoint and the sink disagree about the last committed batch."""
    transcripts = stream_transcript_source(spark, source_dir)
    triples = stream_extract_triples(transcripts, contexts)
    return _snapshot_sink(triples, store, checkpoint_dir, "", available_now)


def _latest_fingerprints(spark: SparkSession, fps_root: str):
    """Latest persisted fingerprint per turn (merge-on-read over the
    append-only per-commit partitions; ``None`` when no state exists).
    A periodic compaction job can rewrite the partitions to one row per
    turn without changing this reader."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(fps_root)
    except AnalysisException:
        return None
    latest = (
        df.groupBy("conv_id", "turn_idx")
        .agg(
            F.max_by(
                F.struct("graph_fp", "n_quads"), F.col("commit_seq")
            ).alias("s")
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("s.graph_fp").alias("graph_fp"),
            F.col("s.n_quads").alias("n_quads"),
        )
    )
    return latest


def run_stream_to_snapshots_with_change_feed(
    spark: SparkSession,
    source_dir: str,
    store,
    checkpoint_dir: str,
    state_dir: str,
    contexts: Optional[ContextDict] = None,
    available_now: bool = True,
):
    """Streaming snapshot ingest + per-commit graph-isomorphism change
    feed (the incremental form of ``pipeline/canonical.graph_diff``).

    Each micro-batch of extracted triples:

    1. commits to the snapshot store exactly-once (the tagged append of
       :func:`_snapshot_sink`);
    2. fingerprints per turn (``turn_fingerprints`` — one exchange, one
       row per turn, quarantine → NULL fp);
    3. diffs them against the persisted cumulative fingerprint state
       with ``graph_diff`` — so a daily/continuous diff never
       re-canonicalizes history, only the new commit;
    4. writes the commit's change feed under ``state_dir/feed/`` and its
       fingerprints under ``state_dir/fps/`` (per-commit partitions).

    Feed semantics — statuses for the turns IN THIS COMMIT: ``added``
    (turn key never seen), ``changed``/``unchanged`` (isomorphism verdict
    against the turn's latest persisted fingerprint — a re-sent turn that
    merely minted fresh blank labels is ``unchanged``), ``unknown``
    (either side quarantined as too automorphic). ``removed`` is filtered
    out: a full-outer diff against cumulative state would report every
    absent historical turn as removed, which is not what an append-only
    commit feed means.

    Exactly-once: triples reuse the store's tagged commit; fingerprints
    and feed write ``mode("overwrite")`` into a deterministic per-tag
    directory, so a crash-replayed micro-batch rewrites identical bytes
    instead of duplicating state. The batch equality contract (feed ==
    batch-side ``graph_diff`` over the same two snapshots) is pinned by
    tests/test_streaming_ingest.py."""
    import os

    from ..pipeline.canonical import FPS_SCHEMA, graph_diff, turn_fingerprints

    fps_root = os.path.join(state_dir, "fps")
    feed_root = os.path.join(state_dir, "feed")
    transcripts = stream_transcript_source(spark, source_dir)
    # NO within-watermark turn dedup here, unlike run_stream_to_snapshots:
    # that dedup keys on (conv_id, turn_idx) alone, so it would drop
    # UPDATES — a re-sent turn with new payload — which are exactly what
    # the change feed exists to report. Byte-identical replays are still
    # harmless: they surface as 'unchanged' feed rows, and the tagged
    # store append stays exactly-once. Sources must deliver at most one
    # version of a turn per micro-batch (file drops do), else the turn's
    # versions would merge into one fingerprint group.
    triples = stream_extract_triples(
        transcripts, contexts, dedup_within_watermark=False
    )

    def feed_and_fingerprints(batch_df, batch_id: int, tag: str) -> None:
        new_fps = turn_fingerprints(batch_df).persist()
        try:
            old = _latest_fingerprints(spark, fps_root)
            if old is None:  # first commit: diff against empty state
                old = spark.createDataFrame([], FPS_SCHEMA)
            feed = graph_diff(old, new_fps).where(
                F.col("status") != "removed"
            )
            feed.write.mode("overwrite").parquet(
                os.path.join(feed_root, f"commit={tag}")
            )
            new_fps.withColumn(
                "commit_seq", F.lit(batch_id).cast("long")
            ).write.mode("overwrite").parquet(
                os.path.join(fps_root, f"commit={tag}")
            )
        finally:
            new_fps.unpersist()

    return _snapshot_sink(
        triples, store, checkpoint_dir, "", available_now,
        then=feed_and_fingerprints,
    )


def run_stream_to_parquet(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    contexts: Optional[ContextDict] = None,
    available_now: bool = True,
):
    """Drain ``source_dir`` into an append-only parquet triples sink.

    ``available_now=True`` processes the current backlog then stops — the
    incremental-backfill trigger; ``False`` runs continuously. Exactly-once
    comes from the file-sink commit log under ``checkpoint_dir``: a replayed
    micro-batch overwrites its own manifest entry instead of double-counting
    (the streaming analogue of ParquetManifest's atomic bucket commit).
    """
    transcripts = stream_transcript_source(spark, source_dir)
    triples = stream_extract_triples(transcripts, contexts)
    return _parquet_sink(triples, sink_dir, checkpoint_dir, available_now)


def _start(writer, available_now: bool):
    """Start ``writer``: drain the backlog and stop, or run continuously."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _parquet_sink(
    stream: DataFrame, sink_dir: str, checkpoint_dir: str, available_now: bool
):
    """Append ``stream`` to a parquet file sink (exactly-once via its
    commit log under ``checkpoint_dir``)."""
    return _start(
        stream.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append"),
        available_now,
    )


def _snapshot_sink(
    stream: DataFrame,
    store,
    checkpoint_dir: str,
    prefix: str,
    available_now: bool,
    then: Optional[Callable[[DataFrame, int, str], None]] = None,
):
    """Commit each micro-batch of ``stream`` as ONE tagged ``store.append``:
    a crash-replayed batch finds its tag committed and is a no-op.

    The tag is ``<prefix><query id>-batch-<n>``. The streaming query id is
    minted with the checkpoint (``<checkpoint>/metadata``), and Spark hands
    it to each batch as the ``sql.streaming.queryId`` local property.
    Batch ids alone restart at 0 when a checkpoint is wiped or relocated,
    and the replay guard would then silently discard new batches as
    already-committed ones.

    With ``then``, the batch is persisted, appended, handed to
    ``then(batch_df, batch_id, tag)`` and unpersisted."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        sc = batch_df.sparkSession.sparkContext
        query_id = sc.getLocalProperty("sql.streaming.queryId")
        tag = f"{prefix}{query_id}-batch-{batch_id}"
        if then is None:
            store.append(batch_df, tag=tag)
            return
        batch_df = batch_df.persist()
        try:
            store.append(batch_df, tag=tag)
            then(batch_df, batch_id, tag)
        finally:
            batch_df.unpersist()

    return _start(
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir),
        available_now,
    )


def run_stream_transcripts_to_snapshots(
    spark: SparkSession,
    source_dir: str,
    store,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Land RAW transcript micro-batches as atomic snapshot commits — the
    ingest half of the continuously-maintained KG: each drained batch
    becomes one tagged SnapshotStore append (:func:`_snapshot_sink`, tag
    prefix ``transcripts-``, so a crash-replayed batch is a no-op), and
    ``pipeline/job.run_incremental_snapshot_pipeline`` then folds the
    accumulated snapshot deltas into nodes/edges in O(delta + affected
    blocks). Stream and consolidation never share mutable state: the
    snapshot id sequence is the only coupling, which is what makes the
    composition exactly-once end-to-end."""
    transcripts = stream_transcript_source(spark, source_dir)
    return _snapshot_sink(
        transcripts, store, checkpoint_dir, "transcripts-", available_now
    )
