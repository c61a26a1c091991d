"""Streaming ingest tests (SURVEY.md §2 Table B streaming rows).

Verifies the incremental path produces exactly the batch kernel's triples,
and that the checkpoint makes re-drains idempotent (no double-counting on
replay — the streaming analogue of manifest resume).
"""

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from json_ld_spark.pipeline.extract import extract_triples
from json_ld_spark.pipeline.transcripts import synth_transcripts
from json_ld_spark.streaming.ingest import run_stream_to_parquet

TRIPLE_KEY = [
    "conv_id", "turn_idx", "subj", "pred", "obj_kind", "obj_value",
    "obj_type", "obj_lang", "obj_direction", "graph", "error_code",
]


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {
        "source": str(tmp_path / "source"),
        "sink": str(tmp_path / "sink"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["source"])
    return d


def _drain(spark, dirs):
    q = run_stream_to_parquet(
        spark, dirs["source"], dirs["sink"], dirs["ckpt"], available_now=True
    )
    q.awaitTermination(300)
    assert not q.isActive


def test_stream_matches_batch(spark, sf_dir, stream_dirs):
    transcripts = synth_transcripts(spark, sf_dir)
    # two file drops, split by conversation hash
    part = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    for i in (0, 1):
        transcripts.where(part == i).coalesce(1).write.mode("append").parquet(
            stream_dirs["source"]
        )

    _drain(spark, stream_dirs)

    got = spark.read.parquet(stream_dirs["sink"]).select(*TRIPLE_KEY)
    want = extract_triples(transcripts).select(*TRIPLE_KEY)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_windowed_stats_stream_matches_batch(spark, sf_dir, stream_dirs):
    """Watermark-finalized windows from the stream must equal the batch
    windowed aggregation on the same rows; windows the watermark has not
    passed are withheld (append-mode contract)."""
    from json_ld_spark.streaming.ingest import (
        run_windowed_stats_stream, windowed_turn_stats,
    )

    transcripts = synth_transcripts(spark, sf_dir)
    transcripts.coalesce(1).write.mode("append").parquet(stream_dirs["source"])

    q = run_windowed_stats_stream(
        spark, stream_dirs["source"], stream_dirs["sink"], stream_dirs["ckpt"],
        available_now=True,
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(stream_dirs["sink"])
    batch_all = windowed_turn_stats(transcripts)
    # every emitted window matches the batch computation exactly
    assert got.exceptAll(batch_all).count() == 0
    # coverage: at least the strictly-closed windows were emitted
    max_ts = transcripts.agg(F.max("ts")).collect()[0][0]
    closed = batch_all.where(
        F.col("window_end") < F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
    )
    n_closed = closed.count()
    assert n_closed > 0, "fixture should close windows"
    assert got.count() >= n_closed
    assert closed.exceptAll(got).count() == 0
    # the open tail (watermark not passed) is withheld
    assert got.count() < batch_all.count()


def test_stream_replay_is_idempotent(spark, sf_dir, stream_dirs):
    transcripts = synth_transcripts(spark, sf_dir)
    transcripts.coalesce(1).write.mode("append").parquet(stream_dirs["source"])
    _drain(spark, stream_dirs)
    n1 = spark.read.parquet(stream_dirs["sink"]).count()
    assert n1 > 0

    # re-drain with the same checkpoint: backlog already committed → no-op
    _drain(spark, stream_dirs)
    assert spark.read.parquet(stream_dirs["sink"]).count() == n1

    # new file arrives → only its triples are appended. Event times must be
    # fresh: rows at-or-below the advanced watermark are (correctly) treated
    # as late and dropped by dropDuplicatesWithinWatermark.
    extra = (
        transcripts.limit(200)
        .withColumn("conv_id", F.concat(F.lit("replay-"), F.col("conv_id")))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))
    )
    extra.coalesce(1).write.mode("append").parquet(stream_dirs["source"])
    _drain(spark, stream_dirs)
    n2 = spark.read.parquet(stream_dirs["sink"]).count()
    want_extra = extract_triples(extra).count()
    assert n2 == n1 + want_extra


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


def test_stream_change_feed_equals_batch_graph_diff(spark, tmp_path):
    """VERDICT r5 stretch: the streaming per-commit change feed (persisted
    fingerprints + graph_diff against them per micro-batch) must
    equal the batch graph_diff over the same two snapshots. Micro-batch 2
    re-sends one turn isomorphically relabeled (must feed as 'unchanged'),
    edits one literal ('changed'), and introduces one turn ('added')."""
    import json as _json

    from json_ld_spark.pipeline.canonical import (
        graph_diff,
        turn_fingerprints,
    )
    from json_ld_spark.streaming.ingest import (
        _latest_fingerprints,
        run_stream_to_snapshots_with_change_feed,
    )
    from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore

    source = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    os.makedirs(source)
    store = ParquetSnapshotStore(spark, str(tmp_path / "store"))

    def doc(pairs=None, edits=None):
        # two anonymous (blank) children: swapping their array order mints
        # blank labels in a different order — textually different,
        # isomorphic RDF
        kids = [{"http://e/q": v} for v in (pairs or ["A", "B"])]
        return _json.dumps({"@id": "http://e/root", "http://e/kids": kids,
                            **(edits or {})})

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string")
    batch1 = spark.createDataFrame(
        [
            ("c1", 0, "tool", None, doc(["A", "B"])),
            ("c2", 0, "tool", None,
             _json.dumps({"@id": "http://e/c2", "http://e/q": "before"})),
        ],
        schema,
    ).withColumn("ts", F.current_timestamp())
    batch2 = spark.createDataFrame(
        [
            ("c1", 0, "tool", None, doc(["B", "A"])),  # isomorphic relabel
            ("c2", 0, "tool", None,
             _json.dumps({"@id": "http://e/c2", "http://e/q": "after"})),
            ("c3", 0, "tool", None,
             _json.dumps({"@id": "http://e/c3", "http://e/q": "new"})),
        ],
        schema,
    ).withColumn("ts", F.current_timestamp() + F.expr("INTERVAL 365 DAYS"))

    def drain():
        q = run_stream_to_snapshots_with_change_feed(
            spark, source, store, ckpt, state, available_now=True
        )
        q.awaitTermination(300)
        assert not q.isActive

    batch1.coalesce(1).write.mode("append").parquet(source)
    drain()
    batch2.coalesce(1).write.mode("append").parquet(source)
    drain()

    feed = spark.read.parquet(os.path.join(state, "feed"))
    feed_cols = ["conv_id", "turn_idx", "status", "old_fp", "new_fp",
                 "old_n_quads", "new_n_quads"]
    feeds = sorted({r["commit"] for r in feed.select("commit").collect()})
    assert len(feeds) == 2
    feed1 = feed.where(F.col("commit") == feeds[0])
    feed2 = feed.where(F.col("commit") == feeds[1])

    # commit 1: everything is new
    assert {(r.conv_id, r.status) for r in feed1.collect()} == {
        ("c1", "added"), ("c2", "added"),
    }
    # commit 2: isomorphic relabel = unchanged, literal edit = changed
    assert {(r.conv_id, r.status) for r in feed2.collect()} == {
        ("c1", "unchanged"), ("c2", "changed"), ("c3", "added"),
    }

    # the feed must EQUAL the batch graph_diff over the same snapshots
    old_fps = turn_fingerprints(extract_triples(batch1))
    new_fps = turn_fingerprints(extract_triples(batch2))
    expected = graph_diff(old_fps, new_fps).where(
        F.col("status") != "removed"
    )
    got2 = sorted(map(tuple, feed2.select(feed_cols).collect()))
    want2 = sorted(map(tuple, expected.select(feed_cols).collect()))
    assert got2 == want2

    # cumulative persisted state = latest fingerprint per turn
    latest = {
        (r.conv_id, r.turn_idx): r.graph_fp
        for r in _latest_fingerprints(
            spark, os.path.join(state, "fps")
        ).collect()
    }
    want_latest = {
        (r.conv_id, r.turn_idx): r.graph_fp for r in new_fps.collect()
    }
    want_latest.update({})  # c1/c2/c3 all re-sent in batch2; keys equal
    assert latest == want_latest
