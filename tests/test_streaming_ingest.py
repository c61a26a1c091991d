"""Streaming ingest tests (SURVEY.md §2 Table B streaming rows).

The transcript stream lands micro-batches as tagged snapshot commits that
the incremental entity pipeline folds in; a re-drain on the same
checkpoint commits nothing, and a wiped checkpoint cannot make the replay
guard drop new batches.
"""

import json
import os
import re
import shutil

from pyspark.sql import functions as F

from json_ld_spark.pipeline.extract import extract_triples
from json_ld_spark.pipeline.transcripts import synth_transcripts


def test_stream_feeds_incremental_entity_pipeline(spark, sf_dir, tmp_path):
    """Continuously-maintained KG: streaming ingest lands transcript
    micro-batches as snapshot commits; the incremental entity pipeline
    folds each drained delta in. After two micro-batches + two pipeline
    runs, nodes/edges must equal a from-scratch batch recompute over the
    whole store."""
    from json_ld_spark.pipeline.entity import canonicalize
    from json_ld_spark.pipeline.job import run_incremental_snapshot_pipeline
    from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore
    from json_ld_spark.streaming.ingest import (
        run_stream_transcripts_to_snapshots,
    )

    source = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(source, exist_ok=True)
    store = ParquetSnapshotStore(spark, str(tmp_path / "store"))
    warehouse = str(tmp_path / "wh")

    def drain():
        q = run_stream_transcripts_to_snapshots(
            spark, source, store, ckpt, available_now=True
        )
        q.awaitTermination(120)

    # micro-batch 1: the base corpus → bootstrap run
    synth_transcripts(spark, sf_dir).coalesce(1).write.mode("append").parquet(
        source
    )
    drain()
    boot = run_incremental_snapshot_pipeline(spark, store, warehouse)
    assert boot.buckets_processed == 1
    n_boot = boot.nodes.count()

    # micro-batch 2: a delta linking an existing entity to a new one
    delta = spark.createDataFrame(
        [
            (
                "conv-stream", 0, "tool", "tool call",
                '{"@id":"http://ex.org/a/person-3",'
                '"http://schema.org/name":"streamed alias",'
                '"http://schema.org/knows":{"@id":"http://ex.org/person-9"}}',
            )
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    delta.coalesce(1).write.mode("append").parquet(source)
    drain()
    inc = run_incremental_snapshot_pipeline(spark, store, warehouse)
    assert inc.buckets_processed == 1

    full_triples = extract_triples(store.read(), dedup_turns=True)
    _, full_nodes, full_edges = canonicalize(full_triples.localCheckpoint())

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    cols_n = ["canon_id", "iri", "kind", "n_aliases"]
    cols_e = ["src_canon", "pred", "dst_canon", "provenance"]
    assert rows(inc.nodes, cols_n) == rows(full_nodes, cols_n)
    assert rows(inc.edges, cols_e) == rows(full_edges, cols_e)
    assert inc.nodes.count() >= n_boot

    # a re-drain with no new files commits nothing: pipeline is a no-op
    drain()
    noop = run_incremental_snapshot_pipeline(spark, store, warehouse)
    assert noop.buckets_processed == 0


def test_stream_snapshot_commits_survive_checkpoint_wipe(spark, tmp_path):
    """Losing (or relocating) the checkpoint restarts micro-batch ids at
    0; the snapshot idempotency tag must scope them to the query lineage
    so the replay guard cannot mistake NEW batches for already-committed
    ones and silently drop their rows."""
    from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore
    from json_ld_spark.streaming.ingest import (
        run_stream_transcripts_to_snapshots,
    )

    source = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(source, exist_ok=True)
    store = ParquetSnapshotStore(spark, str(tmp_path / "store"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string"
    )

    def land(conv_id):
        df = spark.createDataFrame(
            [(conv_id, 0, "user", "hello", None)], schema
        ).withColumn("ts", F.current_timestamp())
        df.coalesce(1).write.mode("append").parquet(source)

    def drain():
        q = run_stream_transcripts_to_snapshots(
            spark, source, store, ckpt, available_now=True
        )
        q.awaitTermination(120)
        with open(os.path.join(ckpt, "metadata")) as f:
            return json.loads(f.readline())["id"]

    def tags():
        return [s["tag"] for s in store._snapshots()]

    land("wipe-c1")
    id1 = drain()
    assert store.read().where(F.col("conv_id") == "wipe-c1").count() == 1
    before = tags()
    assert before and all(
        re.fullmatch(rf"transcripts-{id1}-batch-\d+", t) for t in before
    )

    # simulate checkpoint loss: batch ids restart at 0 on the next drain
    shutil.rmtree(ckpt)
    land("wipe-c2")
    id2 = drain()
    assert id2 != id1
    after = tags()
    assert after[: len(before)] == before and len(after) > len(before)
    assert all(
        re.fullmatch(rf"transcripts-{id2}-batch-\d+", t)
        for t in after[len(before):]
    )
    got = store.read()
    # the fresh lineage re-reads the backlog (at-least-once after losing
    # the checkpoint — expected); what it must NOT do is drop new data
    assert got.where(F.col("conv_id") == "wipe-c2").count() >= 1
