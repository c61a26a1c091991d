"""The spark-submit entry point, ``tools/run_job.py``, run in-process on the
shared test session: its summary counts against the manifest and the
written tables, the published triples' buckets, and its two input modes."""

import json
import os
import sys

import pyarrow.dataset as ds
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from json_ld_spark.pipeline.manifest import ParquetManifest, bucket_of
from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore
from json_ld_spark.pipeline.transcripts import synth_transcripts

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
import run_job  # noqa: E402

N_BUCKETS = 4


@pytest.fixture
def run_main(spark, monkeypatch, capsys):
    """``run_main(*args)``: ``run_job.main()`` with ``args`` as its argv,
    returning the JSON summary it prints. ``SparkSession.stop`` is a no-op
    so the shared session survives."""
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    def run(*args):
        monkeypatch.setattr(sys, "argv", ["run_job.py", *args])
        run_job.main()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    return run


def _check_published(spark, summary, wh, out):
    """The summary's counts equal the manifest's sums and the written
    tables; the published triples are the clean rows, in the warehouse's
    conv-id buckets, and visible to a default pyarrow read."""
    manifest = ParquetManifest(spark, wh, N_BUCKETS).read_manifest()
    sums = manifest.agg(
        F.sum("triples_out").alias("t"), F.sum("errors").alias("e")
    ).first()
    assert summary["triples"] == sums["t"] > 0
    assert summary["quarantined"] == sums["e"]
    assert summary["nodes"] == spark.read.parquet(f"{out}/nodes").count() > 0
    assert summary["edges"] == spark.read.parquet(f"{out}/edges").count() > 0

    assert ds.dataset(f"{out}/triples").count_rows() == summary["triples"]
    published = spark.read.parquet(f"{out}/triples")
    assert published.count() == summary["triples"]
    assert published.where(F.col("error_code").isNotNull()).count() == 0
    assert published.where(
        F.col("bucket") != bucket_of(F.col("conv_id"), N_BUCKETS)
    ).count() == 0


def test_run_job_sf_dir_audit_and_rerun(spark, sf_dir, tmp_path, run_main):
    wh, out = str(tmp_path / "wh"), str(tmp_path / "out")
    args = (
        "--sf-dir", sf_dir, "--warehouse", wh, "--out", out,
        "--n-buckets", str(N_BUCKETS), "--audit",
    )
    first = run_main(*args)
    assert first["buckets_processed"] == N_BUCKETS
    _check_published(spark, first, wh, out)
    audit = first["audit"]
    assert audit["dangling_src"] == audit["dangling_dst"] == 0
    assert (audit["n_nodes"], audit["n_edges"]) == (
        first["nodes"], first["edges"]
    )

    again = run_main(*args)
    assert again["buckets_processed"] == 0
    counts = ("triples", "quarantined", "nodes", "edges")
    assert [again[k] for k in counts] == [first[k] for k in counts]
    _check_published(spark, again, wh, out)


def test_run_job_snapshot_store(spark, sf_dir, tmp_path, run_main):
    root = str(tmp_path / "store")
    ParquetSnapshotStore(spark, root).append(synth_transcripts(spark, sf_dir))
    wh, out = str(tmp_path / "wh"), str(tmp_path / "out")
    summary = run_main(
        "--snapshot-store", root, "--warehouse", wh, "--out", out,
        "--n-buckets", str(N_BUCKETS),
    )
    assert summary["buckets_processed"] == N_BUCKETS
    assert "audit" not in summary
    _check_published(spark, summary, wh, out)

    # the two input modes are one required, mutually exclusive choice
    with pytest.raises(SystemExit):
        run_main(
            "--sf-dir", sf_dir, "--snapshot-store", root,
            "--warehouse", wh, "--out", out,
        )
