"""Production entrypoint: full KG-construction job via spark-submit.

    spark-submit --master <cluster> --py-files kgp.zip tools/run_job.py \
        --sf-dir /root/testdata/sf0.1 --warehouse /tmp/kgp_wh \
        --out /tmp/kgp_out [--n-buckets 64]

Runs transcripts → bucketed extraction with manifest commit/resume →
entity linking → block canonicalization, then writes
``triples`` / ``nodes`` / ``edges`` parquet tables under ``--out``. The
clean triples keep the warehouse's conv-id buckets (``bucket=<b>``, the
hidden-partitioning function an Iceberg ``bucket(conv_id)`` spec uses).
Re-running after a failure skips committed buckets (idempotent);
re-running after success is a no-op for extraction and refreshes the
derived node/edge tables.

Prints one JSON summary line for orchestration; each count in it is
observed on the write of its table.
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
    source = ap.add_mutually_exclusive_group(required=True)
    source.add_argument("--sf-dir", help="synthesize transcripts from here")
    source.add_argument(
        "--snapshot-store",
        help="root of a ParquetSnapshotStore to ingest from (snapshot-"
        "pinned resume). An Iceberg table has no flag here: build "
        "IcebergSnapshotStore(spark, table) in code and pass it to "
        "run_snapshot_pipeline (json_ld_spark/pipeline/snapshots.py).",
    )
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument(
        "--audit",
        action="store_true",
        help="run the referential-integrity audit over the WRITTEN "
        "node/edge tables (dangling endpoints, orphans, dup ids, "
        "self-loops, null keys) and merge the counts into the summary; "
        "exit status stays 0 — the orchestrator decides what to gate on",
    )
    args = ap.parse_args()

    from pyspark.sql import Observation, SparkSession
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

    t0 = time.perf_counter()
    if args.snapshot_store:
        from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore

        store = ParquetSnapshotStore(spark, args.snapshot_store)
        res = run_snapshot_pipeline(spark, store, args.warehouse, args.n_buckets)
    else:
        from json_ld_spark.pipeline.transcripts import synth_transcripts

        res = run_extraction_job(
            spark, synth_transcripts(spark, args.sf_dir), args.warehouse,
            n_buckets=args.n_buckets, with_entity_layer=True,
        )

    # every summary count rides the write of its table via observe(), the
    # way the extraction counts its per-bucket input rows (pipeline/job.py)
    observed = {
        name: Observation(f"{name}_{res.run_id}")
        for name in ("triples", "nodes", "edges")
    }
    clean = F.col("error_code").isNull()
    # the warehouse partitions are bucket_of(conv_id, n_buckets) (another
    # bucket count raises before any write): publish them as they are
    res.triples.observe(
        observed["triples"],
        F.count_if(clean).alias("clean"),
        F.count_if(~clean).alias("quarantined"),
    ).where(clean).write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(args.out, "triples")
    )
    for name, df in (("nodes", res.nodes), ("edges", res.edges)):
        df.observe(observed[name], F.count("*").alias("rows")).write.mode(
            "overwrite"
        ).parquet(os.path.join(args.out, name))

    summary = {
        "run_id": res.run_id,
        "buckets_processed": res.buckets_processed,
        "triples": observed["triples"].get["clean"],
        "quarantined": observed["triples"].get["quarantined"],
        "nodes": observed["nodes"].get["rows"],
        "edges": observed["edges"].get["rows"],
        "wall_s": round(time.perf_counter() - t0, 2),
        "out": args.out,
    }
    if args.audit:
        from json_ld_spark.pipeline.audit import kg_integrity

        # audit the tables as WRITTEN (re-read from --out), not the
        # in-memory frames — a partial/corrupt write is exactly what the
        # audit exists to catch
        summary["audit"] = kg_integrity(
            spark.read.parquet(os.path.join(args.out, "nodes")),
            spark.read.parquet(os.path.join(args.out, "edges")),
        ).collect()[0].asDict()
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
