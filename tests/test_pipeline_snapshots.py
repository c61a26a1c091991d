"""Snapshot-store semantics + snapshot-pinned resume (SURVEY §2 S1/K1).

The ParquetSnapshotStore is the sandbox stand-in for the Iceberg surface —
same contract (atomic append commit, snapshot-pinned read); the
IcebergSnapshotStore methods are thin veneers over the public Iceberg API
and need a catalog on the classpath (documented spark-submit conf in
pipeline/snapshots.py), so they are not executable here.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from json_ld_spark.pipeline.entity import (
    CANON_SCHEMA,
    EDGE_SCHEMA,
    ENTITY_SCHEMA,
    derive_nodes,
)
from json_ld_spark.pipeline.extract import TRIPLE_SCHEMA
from json_ld_spark.pipeline.job import (
    STATE_SCHEMAS,
    read_entity_state,
    run_incremental_snapshot_pipeline,
    run_snapshot_pipeline,
)
from json_ld_spark.pipeline.manifest import ParquetManifest
from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore
from json_ld_spark.pipeline.transcripts import synth_transcripts


def _sorted_triples(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "conv_id", "turn_idx", "subj", "pred", "obj_kind", "obj_value",
            "obj_type", "obj_lang", "obj_direction", "graph", "error_code",
        ).collect()
    )


def test_snapshot_store_append_read_pin(spark, tmp_path):
    store = ParquetSnapshotStore(spark, str(tmp_path / "store"))
    assert store.current_snapshot_id() is None
    with pytest.raises(ValueError):
        store.read()

    a = spark.range(10).select(F.col("id").alias("v"))
    sid1 = store.append(a)
    assert sid1 == 1
    assert store.current_snapshot_id() == 1
    assert store.read().count() == 10

    b = spark.range(10, 25).select(F.col("id").alias("v"))
    sid2 = store.append(b)
    assert sid2 == 2
    # pinned read sees exactly the first commit; latest sees the union
    assert store.read(sid1).count() == 10
    assert store.read().count() == 25
    assert store.read(sid2).count() == 25
    with pytest.raises(ValueError):
        store.read(99)


def test_orphan_data_invisible_without_commit(spark, tmp_path):
    """A crash between data write and snapshot commit must leave the store
    unchanged for readers — the atomic-commit guarantee."""
    import os

    store = ParquetSnapshotStore(spark, str(tmp_path / "store2"))
    store.append(spark.range(5).select(F.col("id").alias("v")))
    # simulate a crashed append: data dir exists, no snapshot references it
    orphan = os.path.join(store.data_dir, "orphan000000")
    spark.range(100).select(F.col("id").alias("v")).write.parquet(orphan)
    assert store.read().count() == 5
    assert store.current_snapshot_id() == 1


def test_every_commit_point_fsyncs_before_rename(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The manifest row, the snapshot log and the entity-state pointer all
    commit through ``atomic_write``: each ``.tmp`` file is fsynced before
    it is renamed onto its final name, so a crash after the rename cannot
    expose a file whose bytes never reached the disk."""
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def inode(st):
        return st.st_dev, st.st_ino

    def fsync(fd):
        events.append(("fsync", inode(os.fstat(fd))))
        real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.path.basename(src), inode(os.stat(src))))
        real_replace(src, dst)

    m = ParquetManifest(spark, str(tmp_path / "w"), 2)
    store = ParquetSnapshotStore(spark, str(tmp_path / "store"))
    transcripts = synth_transcripts(spark, sf_dir).limit(50).localCheckpoint()
    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    m.commit_bucket("r", 0, 1, None)
    store.append(transcripts)
    run_incremental_snapshot_pipeline(spark, store, str(tmp_path / "wh"))
    monkeypatch.undo()

    renames = [(i, e) for i, e in enumerate(events) if e[0] == "replace"]
    assert sorted(e[1] for _, e in renames) == [
        "bucket_0.parquet.tmp", "snapshots.json.tmp", "state.json.tmp",
    ]
    for i, (_, name, ino) in renames:
        assert ("fsync", ino) in events[:i], f"{name} renamed unsynced"


def test_resume_pins_input_snapshot(spark, sf_dir, tmp_path, crash_commit):
    """Kill after 2 buckets, append NEW data to the store, resume: the
    resumed run must re-read the pinned snapshot, so the final triples,
    nodes and edges equal an uninterrupted run over snapshot 1 — the new
    append is invisible until a fresh run starts."""
    store = ParquetSnapshotStore(spark, str(tmp_path / "store3"))
    transcripts = synth_transcripts(spark, sf_dir)
    store.append(transcripts)

    # uninterrupted baseline over snapshot 1
    base = run_snapshot_pipeline(spark, store, str(tmp_path / "w_base"), 4)
    golden = _sorted_triples(base.triples)

    def nodes_edges(res):
        return [sorted(map(tuple, df.collect())) for df in (res.nodes, res.edges)]

    golden_kg = nodes_edges(base)
    assert all(golden_kg)  # the entity layer ran: nodes and edges exist

    # crash inside the third bucket commit
    w = str(tmp_path / "w_pin")
    with crash_commit("bucket_", after=2), pytest.raises(
        RuntimeError, match="crash committing bucket_"
    ):
        run_snapshot_pipeline(spark, store, w, 4)

    # new data lands between crash and resume
    extra = transcripts.withColumn(
        "conv_id", F.concat(F.lit("late-"), F.col("conv_id"))
    )
    store.append(extra)
    assert store.current_snapshot_id() == 2

    resumed = run_snapshot_pipeline(spark, store, w, 4)
    assert _sorted_triples(resumed.triples) == golden  # no late- rows
    assert nodes_edges(resumed) == golden_kg
    manifest = ParquetManifest(spark, w, 4).read_manifest()
    sids = {r.snapshot_id for r in manifest.collect()}
    assert sids == {"1"}

    # a FRESH run (new warehouse) picks up snapshot 2
    fresh = run_snapshot_pipeline(spark, store, str(tmp_path / "w_fresh"), 4)
    assert len(_sorted_triples(fresh.triples)) == 2 * len(golden)


def test_append_tag_charset_validated(spark, tmp_path):
    """Both stores share one tag contract: a tag that could break out of a
    SQL literal (IcebergSnapshotStore interpolates it into a metadata
    query) is rejected before any write."""
    store = ParquetSnapshotStore(spark, str(tmp_path / "store_tag"))
    df = spark.range(1).selectExpr(
        "cast(id as string) conv_id", "cast(id as int) turn_idx",
        "'user' role", "'x' text", "cast(null as string) tool",
        "current_timestamp() ts",
    )
    with pytest.raises(ValueError, match="snapshot tag"):
        store.append(df, tag="bad'tag; DROP")
    assert store.current_snapshot_id() is None  # nothing committed
    assert store.append(df, tag="batch-0.retry:1_ok") == 1
    # a replayed append under an already-committed tag is a no-op
    # returning the original snapshot id
    assert store.append(df, tag="batch-0.retry:1_ok") == 1
    assert store.current_snapshot_id() == 1


def test_incremental_pipeline_over_snapshots(spark, sf_dir, tmp_path):
    """Bootstrap on snapshot 1, append a delta, incremental run: nodes and
    edges must equal a from-scratch pipeline over the full table."""
    from json_ld_spark.pipeline.entity import canonicalize
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.job import run_incremental_snapshot_pipeline

    store = ParquetSnapshotStore(spark, str(tmp_path / "inc_store"))
    t1 = synth_transcripts(spark, sf_dir)
    store.append(t1)
    w = str(tmp_path / "inc_wh")

    boot = run_incremental_snapshot_pipeline(spark, store, w)
    assert boot.buckets_processed == 1
    n_nodes_1 = boot.nodes.count()

    delta = spark.createDataFrame(
        [
            (
                "conv-new", 0, "tool", "tool call",
                '{"@id":"http://ex.org/a/person-3",'
                '"http://schema.org/name":"alias",'
                '"http://schema.org/knows":{"@id":"http://ex.org/person-4"}}',
            )
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    store.append(delta)

    inc = run_incremental_snapshot_pipeline(spark, store, w)
    assert inc.buckets_processed == 1

    full_triples = extract_triples(store.read(), dedup_turns=True)
    _, full_nodes, full_edges = canonicalize(full_triples.localCheckpoint())

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    cols_n = ["canon_id", "iri", "kind", "n_aliases"]
    cols_e = ["src_canon", "pred", "dst_canon", "provenance"]
    assert rows(inc.nodes, cols_n) == rows(full_nodes, cols_n)
    assert rows(inc.edges, cols_e) == rows(full_edges, cols_e)
    assert inc.nodes.count() >= n_nodes_1

    # third run with no new snapshot: clean no-op
    noop = run_incremental_snapshot_pipeline(spark, store, w)
    assert noop.buckets_processed == 0


def test_state_reads_use_explicit_schemas(
    spark, sf_dir, tmp_path, jobs_launched
):
    """The four state tables read back with the schema constants, so the
    reads (and a no-op run, which only reads) launch no Spark job. The
    state stores no nodes table: every run derives nodes from canon."""
    store = ParquetSnapshotStore(spark, str(tmp_path / "schema_store"))
    store.append(synth_transcripts(spark, sf_dir).limit(200).localCheckpoint())
    w = str(tmp_path / "schema_wh")
    assert read_entity_state(spark, w) is None
    run_incremental_snapshot_pipeline(spark, store, w)

    state = {}
    assert jobs_launched(
        lambda: state.update(read_entity_state(spark, w))
    ) == 0
    # the constants match what the commit wrote: compare each with the
    # schema Spark infers from the files (nullability aside), so a
    # misnamed or mistyped field cannot read back as a null column
    with open(os.path.join(w, "entity_state", "state.json")) as fh:
        v = os.path.join(w, "entity_state", f"v{json.load(fh)['version']}")

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    constants = {
        "triples": TRIPLE_SCHEMA, "entities": ENTITY_SCHEMA,
        "canon": CANON_SCHEMA, "edges": EDGE_SCHEMA,
    }
    assert set(state) == set(constants) == set(STATE_SCHEMAS)
    assert sorted(os.listdir(v)) == sorted(STATE_SCHEMAS)
    for name, schema in constants.items():
        on_disk = spark.read.parquet(os.path.join(v, name)).schema
        assert fields(on_disk) == fields(schema), name
        assert fields(state[name].schema) == fields(schema), name
    assert state["canon"].count() == state["entities"].count() > 0

    out = []
    assert jobs_launched(
        lambda: out.append(run_incremental_snapshot_pipeline(spark, store, w)),
    ) == 0
    noop = out[0]
    assert noop.buckets_processed == 0
    assert noop.triples.schema == TRIPLE_SCHEMA
    assert noop.nodes.schema == derive_nodes(state["canon"]).schema
    assert noop.edges.schema == EDGE_SCHEMA


def test_multi_append_crash_resume_matches_full_build(
    spark, sf_dir, tmp_path, crash_commit
):
    """Three successive deltas, the second crashed inside the state-pointer
    commit and re-run: the final state equals a from-scratch build over the
    union of every snapshot."""
    from json_ld_spark.pipeline.entity import canonicalize
    from json_ld_spark.pipeline.extract import extract_triples

    store = ParquetSnapshotStore(spark, str(tmp_path / "multi_store"))
    w = str(tmp_path / "multi_wh")
    t = synth_transcripts(spark, sf_dir).localCheckpoint()
    part = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(4))
    store.append(t.where(part == 0))
    run_incremental_snapshot_pipeline(spark, store, w)

    # a new lexicographic-minimum alias, so the crashed delta moves an
    # existing block
    alias = spark.createDataFrame(
        [(
            "conv-alias", 0, "tool", "tool call",
            '{"@id":"http://ex.org/a/person-3",'
            '"http://schema.org/knows":{"@id":"http://ex.org/person-4"}}',
        )],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    deltas = [
        t.where(part == 1),
        t.where(part == 2).unionByName(alias),
        t.where(part == 3),
    ]
    for i, delta in enumerate(deltas):
        store.append(delta)
        if i == 1:
            with crash_commit("state.json"), pytest.raises(
                RuntimeError, match="crash committing state.json"
            ):
                run_incremental_snapshot_pipeline(spark, store, w)
        res = run_incremental_snapshot_pipeline(spark, store, w)
        assert res.buckets_processed == 1

    full_triples = extract_triples(store.read(), dedup_turns=True)
    _, full_nodes, full_edges = canonicalize(full_triples.localCheckpoint())

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    cols_n = ["canon_id", "iri", "kind", "n_aliases"]
    cols_e = ["src_canon", "pred", "dst_canon", "provenance"]
    assert _sorted_triples(res.triples) == _sorted_triples(full_triples)
    assert res.nodes.schema == full_nodes.schema
    assert rows(res.nodes, cols_n) == rows(full_nodes, cols_n)
    assert rows(res.edges, cols_e) == rows(full_edges, cols_e)
    assert res.nodes.where(
        F.col("iri") == "http://ex.org/a/person-3"
    ).count() == 1


@pytest.mark.xfail(strict=True, reason="ROADMAP item 3")
def test_reappearing_turn_counted_once(spark, tmp_path):
    """A turn committed again in a later snapshot (the transcript stream
    re-landing its backlog after a lost checkpoint) counts once, as it does
    in a from-scratch build over the whole store."""
    from json_ld_spark.pipeline.entity import canonicalize
    from json_ld_spark.pipeline.extract import extract_triples

    store = ParquetSnapshotStore(spark, str(tmp_path / "again_store"))
    w = str(tmp_path / "again_wh")
    turn = spark.createDataFrame(
        [(
            "conv-again", 0, "tool", "tool call",
            '{"@id":"http://ex.org/a/person-3",'
            '"http://schema.org/knows":{"@id":"http://ex.org/person-4"}}',
        )],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    store.append(turn)
    run_incremental_snapshot_pipeline(spark, store, w)
    store.append(turn)
    res = run_incremental_snapshot_pipeline(spark, store, w)
    assert res.buckets_processed == 1

    full_triples = extract_triples(store.read(), dedup_turns=True)
    _, _, full_edges = canonicalize(full_triples.localCheckpoint())
    cols_e = ["src_canon", "pred", "dst_canon", "provenance"]
    assert _sorted_triples(res.triples) == _sorted_triples(full_triples)
    assert sorted(tuple(r) for r in res.edges.select(*cols_e).collect()) == (
        sorted(tuple(r) for r in full_edges.select(*cols_e).collect())
    )
