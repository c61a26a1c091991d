"""Production entrypoint: full KG-construction job via spark-submit.

    spark-submit --master <cluster> --py-files kgp.zip tools/run_job.py \
        --sf-dir /root/testdata/sf0.1 --warehouse /tmp/kgp_wh \
        --out /tmp/kgp_out [--n-buckets 64]

Runs transcripts → bucketed extraction with manifest commit/resume →
entity linking → block canonicalization, then writes
``triples`` / ``nodes`` / ``edges`` parquet tables under ``--out``
(conv-id-bucketed for triples, the same hidden-partitioning function an
Iceberg ``bucket(conv_id)`` spec uses). Re-running after a failure skips
committed buckets (idempotent); re-running after success is a no-op for
extraction and refreshes the derived node/edge tables.

Prints one JSON summary line for orchestration.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument(
        "--snapshot-store",
        help="root of a ParquetSnapshotStore to ingest from (snapshot-"
        "pinned resume); when absent, transcripts synthesize from "
        "--sf-dir directly. An Iceberg table has no flag here: build "
        "IcebergSnapshotStore(spark, table) in code and pass it to "
        "run_snapshot_pipeline (json_ld_spark/pipeline/snapshots.py).",
    )
    ap.add_argument(
        "--nquads-out",
        help="also export the clean triples as N-Quads text under this dir",
    )
    ap.add_argument(
        "--skolemize",
        action="store_true",
        help="replace blank nodes with stable well-known genid IRIs "
        "(RDFC-1.0 canonical labels) in the published triples table",
    )
    ap.add_argument(
        "--fingerprints-out",
        help="also persist per-turn canonical fingerprints under this dir "
        "(the table graph_diff consumes for incremental cross-snapshot "
        "diffs)",
    )
    ap.add_argument(
        "--diff-against",
        help="path of a previous run's --fingerprints-out table; writes a "
        "per-turn added/removed/changed/unchanged/unknown diff under "
        "<out>/diff",
    )
    ap.add_argument(
        "--audit",
        action="store_true",
        help="run the referential-integrity audit over the WRITTEN "
        "node/edge tables (dangling endpoints, orphans, dup ids, "
        "self-loops, null keys) and merge the counts into the summary; "
        "exit status stays 0 — the orchestrator decides what to gate on",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("kgp-job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from json_ld_spark.pipeline.job import run_extraction_job, run_snapshot_pipeline
    from json_ld_spark.pipeline.manifest import bucket_of

    t0 = time.perf_counter()
    if args.snapshot_store:
        from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore

        store = ParquetSnapshotStore(spark, args.snapshot_store)
        res = run_snapshot_pipeline(
            spark, store, args.warehouse, n_buckets=args.n_buckets
        )
    else:
        from json_ld_spark.pipeline.transcripts import synth_transcripts

        res = run_extraction_job(
            spark, synth_transcripts(spark, args.sf_dir), args.warehouse,
            n_buckets=args.n_buckets, with_entity_layer=True,
        )
    clean = res.triples.where(F.col("error_code").isNull())
    if args.nquads_out:
        from json_ld_spark.functions.nquads import to_nquads

        to_nquads(res.triples).select("nquad").write.mode("overwrite").text(
            args.nquads_out
        )
    if args.fingerprints_out or args.diff_against:
        from json_ld_spark.pipeline.canonical import (
            graph_diff,
            turn_fingerprints,
        )

        fps = turn_fingerprints(res.triples)
        if args.fingerprints_out:
            fps.write.mode("overwrite").parquet(args.fingerprints_out)
            # re-read: the diff below then scans the persisted table instead
            # of recomputing the canonicalization a second time
            fps = spark.read.parquet(args.fingerprints_out)
        if args.diff_against:
            old_fps = spark.read.parquet(args.diff_against)
            graph_diff(old_fps, fps).write.mode("overwrite").parquet(
                os.path.join(args.out, "diff")
            )
    skol_quarantined = None
    if args.skolemize:
        from json_ld_spark.pipeline.canonical import skolemize_triples

        # Quarantined (too-automorphic) turns publish with their ORIGINAL
        # blank labels and error_code set — they would have been published
        # without the flag, so filtering them here would silently shrink
        # the table; the summary reports how many turns lack stable skolem
        # IRIs so orchestration can alert instead of guessing.
        clean = skolemize_triples(res.triples)
        skol_quarantined = (
            clean.where(F.col("error_code").isNotNull())
            .select("conv_id", "turn_idx")
            .distinct()
            .count()
        )
    (
        clean.withColumn("__bucket", bucket_of(F.col("conv_id"), args.n_buckets))
        .repartition(args.n_buckets, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(os.path.join(args.out, "triples"))
    )
    res.nodes.write.mode("overwrite").parquet(os.path.join(args.out, "nodes"))
    res.edges.write.mode("overwrite").parquet(os.path.join(args.out, "edges"))

    summary = {
        "run_id": res.run_id,
        "buckets_processed": res.buckets_processed,
        "triples": clean.count(),
        "quarantined": res.triples.where(F.col("error_code").isNotNull()).count(),
        "nodes": res.nodes.count(),
        "edges": res.edges.count(),
        "wall_s": round(time.perf_counter() - t0, 2),
        "out": args.out,
    }
    if skol_quarantined is not None:
        summary["skolem_quarantined_turns"] = skol_quarantined
    if args.audit:
        from json_ld_spark.pipeline.audit import kg_integrity

        # audit the tables as WRITTEN (re-read from --out), not the
        # in-memory frames — a partial/corrupt write is exactly what the
        # audit exists to catch
        audit_row = (
            kg_integrity(
                spark.read.parquet(os.path.join(args.out, "nodes")),
                spark.read.parquet(os.path.join(args.out, "edges")),
            )
            .collect()[0]
            .asDict()
        )
        summary["audit"] = audit_row
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
