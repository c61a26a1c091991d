"""Resume/idempotence + skew tests (FIXTURES.md §5.2-5.3, SURVEY.md §7 M2)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from json_ld_spark.operators.skew import repartition_salted, salted_count
from json_ld_spark.pipeline import manifest as manifest_mod
from json_ld_spark.pipeline.cc import connected_components
from json_ld_spark.pipeline.job import run_extraction_job
from json_ld_spark.pipeline.manifest import (
    MANIFEST_ARROW_SCHEMA,
    MANIFEST_SCHEMA,
    ParquetManifest,
)
from json_ld_spark.pipeline.transcripts import synth_transcripts


def _sorted_triples(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "conv_id", "turn_idx", "subj", "pred", "obj_kind", "obj_value",
            "obj_type", "obj_lang", "obj_direction", "graph", "error_code",
        ).collect()
    )


def test_resume_idempotent(spark, sf_dir, tmp_path, crash_commit):
    transcripts = synth_transcripts(spark, sf_dir).cache()
    n_buckets = 4

    # uninterrupted baseline
    base = run_extraction_job(
        spark, transcripts, str(tmp_path / "w_base"), n_buckets
    )
    assert base.buckets_processed == n_buckets
    golden = _sorted_triples(base.triples)

    # crashed run: dies inside the third manifest commit
    w2 = str(tmp_path / "w_resume")
    with crash_commit("bucket_", after=2), pytest.raises(
        RuntimeError, match="crash committing bucket_"
    ):
        run_extraction_job(spark, transcripts, w2, n_buckets)
    m = ParquetManifest(spark, w2, n_buckets)
    assert len(m.committed_buckets()) == 2  # the crash is exact

    # resume: processes only the pending buckets
    resumed = run_extraction_job(spark, transcripts, w2, n_buckets)
    assert resumed.buckets_processed == n_buckets - 2
    assert _sorted_triples(resumed.triples) == golden

    # a third run is a no-op
    noop = run_extraction_job(spark, transcripts, w2, n_buckets)
    assert noop.buckets_processed == 0
    assert _sorted_triples(noop.triples) == golden


def test_noop_rerun_with_entity_layer(spark, sf_dir, tmp_path):
    """A re-run over a fully committed manifest extracts nothing but must
    still derive the node/edge tables: the production entrypoint always
    asks for the entity layer, and nodes=None would crash its re-runs."""
    from collections import Counter

    transcripts = synth_transcripts(spark, sf_dir)
    w = str(tmp_path / "w_noop_entity")
    first = run_extraction_job(
        spark, transcripts, w, n_buckets=4, with_entity_layer=True
    )
    assert first.buckets_processed == 4
    nodes = Counter(tuple(r) for r in first.nodes.collect())
    edges = Counter(tuple(r) for r in first.edges.collect())
    assert nodes and edges

    again = run_extraction_job(
        spark, transcripts, w, n_buckets=4, with_entity_layer=True
    )
    assert again.buckets_processed == 0
    assert Counter(tuple(r) for r in again.nodes.collect()) == nodes
    assert Counter(tuple(r) for r in again.edges.collect()) == edges


def test_rerun_with_other_bucket_count_raises(spark, sf_dir, tmp_path):
    """Bucket ids name other conversations under another bucket count, so
    resuming a 2-bucket warehouse with 4 buckets would extract buckets 2
    and 3 again and duplicate their triples. It raises before any write."""
    transcripts = synth_transcripts(spark, sf_dir)
    w = str(tmp_path / "w_rebucket")
    golden = _sorted_triples(
        run_extraction_job(spark, transcripts, w, n_buckets=2).triples
    )
    with pytest.raises(ValueError, match="2 buckets; this run asks for 4"):
        run_extraction_job(spark, transcripts, w, n_buckets=4)
    assert _sorted_triples(ParquetManifest(spark, w, 2).read_triples()) == golden


def test_empty_buckets_commit_and_resume(spark, sf_dir, tmp_path):
    """Regression: a pending bucket that emits zero rows gets no partition
    directory from the dynamic-partition write — it must still commit its
    manifest row (with zero metrics) or every resume re-crashes on the
    missing path."""
    one_conv = synth_transcripts(spark, sf_dir).where(
        F.col("conv_id") == "conv-00000000"
    )
    w = str(tmp_path / "w_empty")
    res = run_extraction_job(spark, one_conv, w, n_buckets=4)
    assert res.buckets_processed == 4
    m = ParquetManifest(spark, w, 4)
    assert m.pending_buckets() == []
    rows = {r.partition_id: r for r in m.read_manifest().collect()}
    assert len(rows) == 4
    empties = [r for r in rows.values() if r.input_rows == 0]
    assert empties, "fixture conv should leave some buckets empty"
    assert all(r.triples_out == 0 and r.errors == 0 for r in empties)
    # a re-run is a clean no-op
    noop = run_extraction_job(spark, one_conv, w, n_buckets=4)
    assert noop.buckets_processed == 0


def test_manifest_metrics(spark, sf_dir, tmp_path):
    transcripts = synth_transcripts(spark, sf_dir)
    res = run_extraction_job(spark, transcripts, str(tmp_path / "w_m"), 4)
    m = ParquetManifest(spark, str(tmp_path / "w_m"), 4).read_manifest()
    rows = m.collect()
    assert len(rows) == 4
    assert sum(r.input_rows for r in rows) == transcripts.count()
    assert sum(r.triples_out for r in rows) == res.triples.where(
        F.col("error_code").isNull()
    ).count()
    assert all(r.checksum is not None for r in rows)


def test_manifest_schema_matches_ddl(spark, tmp_path):
    m = ParquetManifest(spark, str(tmp_path / "w"), 2)
    m.commit_bucket("r", 0, 5, None, snapshot_id="7")
    m.commit_bucket("r", 1, 0, {"triples_out": 3, "errors": 1, "checksum": "9"})
    assert m.read_manifest().schema == StructType.fromDDL(MANIFEST_SCHEMA)
    assert m.pending_buckets() == []
    assert m.pinned_snapshot() == "7"
    rows = {r.partition_id: r for r in m.read_manifest().collect()}
    assert (rows[0].input_rows, rows[0].triples_out, rows[0].checksum) == (
        5, 0, "0"
    )
    assert (rows[1].triples_out, rows[1].errors, rows[1].snapshot_id) == (
        3, 1, None
    )


def test_uncommitted_manifest_leftovers_stay_pending(spark, tmp_path):
    """A crash between the tmp-file write and the rename leaves
    ``bucket_<b>.parquet.tmp`` behind; a crash inside the older Spark-based
    commit left a ``_tmp_bucket_<b>/`` directory. Neither commits."""
    m = ParquetManifest(spark, str(tmp_path / "w"), 3)
    m.commit_bucket("r", 0, 1, None)

    def crash(src, dst):
        raise OSError("crash before rename")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(manifest_mod.os, "replace", crash)
        with pytest.raises(OSError, match="crash before rename"):
            m.commit_bucket("r", 1, 1, None, snapshot_id="9")
    assert os.path.exists(
        os.path.join(m.manifest_dir, "bucket_1.parquet.tmp")
    )
    legacy = os.path.join(m.manifest_dir, "_tmp_bucket_2")
    os.makedirs(legacy)
    pq.write_table(
        MANIFEST_ARROW_SCHEMA.empty_table(),
        os.path.join(legacy, "part-00000.parquet"),
    )
    assert m.committed_buckets() == {0}
    assert m.pending_buckets() == [1, 2]
    assert m.pinned_snapshot() is None
    # the retried commit replaces the leftover tmp file
    m.commit_bucket("r", 1, 1, None)
    assert m.pending_buckets() == [2]


def test_commit_and_small_cc_job_counts(spark, tmp_path, jobs_launched):
    m = ParquetManifest(spark, str(tmp_path / "w"), 4)
    assert jobs_launched(
        lambda: [m.commit_bucket("r", b, 1, None) for b in range(4)]
    ) == 0
    # a shuffled (not local-relation) edge plan, like same_as_edges
    edges = spark.range(12).select(
        F.format_string("n%02d", F.col("id")).alias("src"),
        F.format_string("n%02d", F.col("id") - F.col("id") % 3).alias("dst"),
    ).distinct()
    out = []
    # ≥ 1: the edge plan itself needs a job, so the counter is live
    assert 1 <= jobs_launched(
        lambda: out.extend(connected_components(edges).collect())
    ) <= 3
    assert len(out) == 12
    assert {r.component for r in out} == {"n00", "n03", "n06", "n09"}


def test_hot_conv_skew_fixture(spark, sf_dir):
    hot = synth_transcripts(spark, sf_dir, hot_conv=True)
    counts = hot.groupBy("conv_id").count()
    top = counts.orderBy(F.desc("count")).first()
    total = hot.count()
    assert top["conv_id"] == "conv-hot"
    assert top["count"] >= total * 0.4
    # turn_idx stays unique inside the hot conversation
    assert (
        hot.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count()
        == 0
    )


def test_salted_count_matches_plain(spark, sf_dir):
    hot = synth_transcripts(spark, sf_dir, hot_conv=True)
    plain = {
        r.conv_id: r.cnt
        for r in hot.groupBy("conv_id").agg(F.count("*").alias("cnt")).collect()
    }
    salted = {
        r.conv_id: r.cnt
        for r in salted_count(
            hot, ["conv_id"], ["turn_idx"], n_salts=8
        ).collect()
    }
    assert salted == plain


def test_repartition_salted_spreads_hot_key(spark, sf_dir):
    hot = synth_transcripts(spark, sf_dir, hot_conv=True)
    df = repartition_salted(hot, "conv_id", "turn_idx", n_partitions=8, n_salts=8)
    per_part = (
        df.where(F.col("conv_id") == "conv-hot")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    # the hot conversation spans multiple partitions instead of one straggler
    assert len(per_part) >= 4


def test_salted_extraction_no_straggler(spark, sf_dir):
    """SURVEY §5.2-6: on the hot-conversation fixture, salted repartition
    must erase the single-task straggler the conv_id partitioning creates.
    The hard assertion is on per-task INPUT ROWS (deterministic; kernel cost
    is linear in rows) — wall-clock per task is also collected via the
    accumulator but only sanity-checked, because hypervisor steal bursts on
    this sandbox make time-based 2× assertions flaky."""
    from json_ld_spark.pipeline.extract import TaskMetricsParam, extract_triples

    hot = synth_transcripts(spark, sf_dir, hot_conv=True)

    # unsalted: partitioned by conv_id alone → conv-hot is one straggler task
    acc_u = spark.sparkContext.accumulator([], TaskMetricsParam())
    extract_triples(
        hot.repartition(8, F.col("conv_id")), task_metrics_acc=acc_u
    ).count()
    rows_u = sorted(m[0] for m in acc_u.value)
    median_u = rows_u[len(rows_u) // 2]
    assert rows_u[-1] > 2 * max(median_u, 1), (
        f"fixture should produce a straggler without salting: {rows_u}"
    )

    # salted: (conv_id, salt) spreading bounds every task near the median
    acc_s = spark.sparkContext.accumulator([], TaskMetricsParam())
    extract_triples(
        repartition_salted(hot, "conv_id", "turn_idx", n_partitions=8, n_salts=8),
        task_metrics_acc=acc_s,
    ).count()
    rows_s = sorted(m[0] for m in acc_s.value)
    median_s = rows_s[len(rows_s) // 2]
    assert rows_s[-1] <= 2 * max(median_s, 1), (
        f"salted straggler: max {rows_s[-1]} vs median {median_s} ({rows_s})"
    )
    assert rows_s[-1] * 2 <= rows_u[-1], "salting should at least halve the max task"
    assert all(m[1] >= 0 for m in acc_s.value)

    # memoization hit-rate surface (SURVEY parity with the reference's
    # per-run context cache, src/remote.rs:29-38): the corpus reuses a
    # handful of inline @context blobs, so across all tasks context
    # compiles (misses) must be a tiny fraction of context lookups
    ctx_hits = sum(m[2] for m in acc_s.value)
    ctx_misses = sum(m[3] for m in acc_s.value)
    assert ctx_hits + ctx_misses > 0
    assert ctx_hits / (ctx_hits + ctx_misses) > 0.9, (
        f"context memoization ineffective: {ctx_hits} hits / "
        f"{ctx_misses} misses"
    )


def test_entity_build_end_to_end(spark, sf_dir, tmp_path):
    """spark-submit entry path (tools/run_job.py): extraction via manifest
    buckets + entity layer; results must equal the direct (non-bucketed)
    pipeline."""
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.transcripts import synth_transcripts
    from pyspark.sql import functions as F

    res = run_extraction_job(
        spark, synth_transcripts(spark, sf_dir), str(tmp_path / "wh"),
        n_buckets=4, with_entity_layer=True,
    )
    assert res.buckets_processed == 4
    direct = extract_triples(synth_transcripts(spark, sf_dir))
    assert res.triples.count() == direct.count()
    # manifest-backed triples carry an extra `bucket` lineage column
    assert res.triples.select(*direct.columns).exceptAll(direct).count() == 0
    assert res.nodes is not None and res.edges is not None
    assert res.nodes.count() > 0
    # every edge endpoint is a known canonical node
    node_ids = res.nodes.select(F.col("canon_id").alias("src_canon"))
    dangling = res.edges.join(node_ids, "src_canon", "left_anti")
    assert dangling.count() == 0
