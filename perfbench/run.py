"""KG-construction benchmark: one command, one workload, one JSON result.

    python3 perfbench/run.py --workload build_unique --seed 1 --seconds 20 --trace 0

Run from the repository root. The program under test is the
``json_ld_spark`` package in that root, driven through its public entry
points from a single driver process on ``local[k]`` (``--cores``):

- build: ``run_extraction_job(..., with_entity_layer=True)`` on a fresh
  warehouse, until the nodes and edges tables are written as parquet;
- append: ``ParquetSnapshotStore.append(delta)`` plus
  ``run_incremental_snapshot_pipeline`` until the committed nodes and
  edges can be read, over a fixed delta sequence after a bootstrap.

Inputs are generated from ``--seed`` by ``perfbench/prepare.py`` in a
child process, outside every timing, and cached per seed under
``.perfbench_work/``. Every timed operation is checked afterwards, outside
its timing, against the Spark-free reference computed by that step.

``--trace 0`` loops build/append cycles for ``--seconds`` and reports the
end-to-end metrics. ``--trace 1`` runs the layers one public call at a
time inside spans and reports the per-layer metrics; see README.md.
The last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
import zipfile
from contextlib import nullcontext

from procmem import PeakRss
from spans import Tracer
from workloads import NAMES

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
N_BUCKETS = 4
TRIPLE_COLS = [
    "conv_id", "turn_idx", "subj", "pred", "obj_kind", "obj_value",
    "obj_type", "obj_lang", "obj_direction", "graph", "error_code",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# ------------------------------------------------------------------ setup

class Bench:
    """One benchmark run: the session, the inputs and the failure count."""

    def __init__(self, args) -> None:
        self.args = args
        self.cores = args.cores
        self.run_id = uuid.uuid4().hex[:12]
        self.data = os.path.join(WORK, "data", f"{args.workload}-s{args.seed}")
        self.scratch = os.path.join(WORK, "runs", self.run_id)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.meta: dict = {}
        self.tracer: Tracer | None = None

    # -- inputs ------------------------------------------------------
    def prepare(self) -> None:
        """Run ``prepare.py`` for this workload and seed in a child
        process, before Spark starts."""
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "prepare.py"),
             "--workload", self.args.workload, "--seed", str(self.args.seed),
             "--out", self.data],
            check=True, stdout=subprocess.DEVNULL, cwd=ROOT,
        )
        with open(os.path.join(self.data, "done.json")) as fh:
            self.meta = json.load(fh)

    def path(self, name: str) -> str:
        return os.path.join(self.data, name)

    # -- session -----------------------------------------------------
    def _package_zip(self) -> str:
        """Zip of json_ld_spark shipped to the Python workers explicitly,
        so they import the checkout's code wherever they start."""
        out = os.path.join(self.scratch, "json_ld_spark.zip")
        with zipfile.ZipFile(out, "w") as zf:
            pkg = os.path.join(ROOT, "json_ld_spark")
            for d, _, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(d, f)
                        zf.write(full, os.path.relpath(full, ROOT))
        return out

    def setup(self) -> float:
        """Launch the JVM, start the session and run the warm-up job that
        spins up the Python workers; return the wall time of it all."""
        from json_ld_spark.pipeline.manifest import ParquetManifest
        from json_ld_spark.session import get_spark

        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(self.scratch, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        zip_path = self._package_zip()

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "spark-warehouse"),
                # the heap is committed and touched up front, so peak memory
                # follows the program rather than G1's heap-growth timing
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                    "-XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.addPyFile(zip_path)

        def warm(batches):
            import json_ld_spark.pipeline.extract  # noqa: F401

            yield from batches

        spark.range(self.cores * 4).repartition(self.cores).mapInPandas(
            warm, "id long"
        ).count()
        # one manifest-row commit warms the build's local-data write path,
        # the one path the append round before the build does not take
        ParquetManifest(spark, self.fresh_dir("warm"), 1).commit_bucket(
            self.run_id, 0, 0, None
        )
        self.spark = spark
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- checks ------------------------------------------------------
    def _fingerprint(self, df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*TRIPLE_COLS)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _rows(self, path_or_df) -> list[tuple]:
        import pyarrow.parquet as pq

        if isinstance(path_or_df, str):
            table = pq.read_table(path_or_df)
            return sorted(zip(*(c.to_pylist() for c in table.columns)))
        return sorted(tuple(r) for r in path_or_df.collect())

    def check(self, what: str, triples, nodes, edges, expected: str) -> None:
        """Compare triples (count + xor of row hashes), nodes and edges
        with the reference outputs ``<expected>_{triples,nodes,edges}``."""
        want = self._fingerprint(
            self.spark.read.parquet(self.path(f"{expected}_triples.parquet"))
        )
        got = self._fingerprint(triples.select(*TRIPLE_COLS))
        problems = []
        if got != want:
            problems.append(f"triples {got} != expected {want}")
        for name, df in (("nodes", nodes), ("edges", edges)):
            exp = self._rows(self.path(f"{expected}_{name}.parquet"))
            act = self._rows(df.select(*self._cols(name)))
            if exp != act:
                problems.append(
                    f"{name}: {len(act)} rows != expected {len(exp)} rows"
                )
        if problems:
            raise AssertionError(f"{what}: " + "; ".join(problems))

    @staticmethod
    def _cols(name: str) -> list[str]:
        return (
            ["canon_id", "iri", "kind", "n_aliases"] if name == "nodes"
            else ["src_canon", "pred", "dst_canon", "provenance"]
        )

    def attempt(self, what: str, fn):
        """Run one timed operation plus its check; count failures."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            log(f"FAILED {what}:\n{traceback.format_exc()}")
            return None

    # -- operations --------------------------------------------------
    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.scratch, f"{name}-{uuid.uuid4().hex[:8]}")
        os.makedirs(d)
        return d

    def span(self, name: str, traced: bool):
        """A span when this run traces and ``traced`` is set, else a no-op
        that still yields a count dict."""
        if self.tracer is None or not traced:
            return nullcontext({})
        return self.tracer.span(name)

    def build(self, traced: bool = False) -> float:
        """One full build on a fresh warehouse; returns its wall time.
        The outputs are checked and the warehouse removed afterwards."""
        from json_ld_spark.pipeline.job import run_extraction_job

        spark = self.spark
        wh = self.fresh_dir("build")
        try:
            t0 = time.perf_counter()
            with self.span("bench.build", traced) as counts:
                with self.span("job.run_extraction_job", traced):
                    res = run_extraction_job(
                        spark, spark.read.parquet(self.path("build.parquet")),
                        wh, N_BUCKETS, with_entity_layer=True,
                    )
                with self.span("bench.write_nodes_edges", traced):
                    res.nodes.write.parquet(os.path.join(wh, "out_nodes"))
                    res.edges.write.parquet(os.path.join(wh, "out_edges"))
                counts["buckets"] = res.buckets_processed
            elapsed = time.perf_counter() - t0
            self.check(
                "build", res.triples,
                spark.read.parquet(os.path.join(wh, "out_nodes")),
                spark.read.parquet(os.path.join(wh, "out_edges")), "build",
            )
            return elapsed
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def append(self, store, state: str, corpus: str):
        """One append: commit ``corpus`` as a snapshot, run the incremental
        pipeline, and read the committed nodes and edges. Returns (wall
        time, job result)."""
        from json_ld_spark.pipeline.job import run_incremental_snapshot_pipeline

        t0 = time.perf_counter()
        store.append(self.spark.read.parquet(self.path(corpus)))
        res = run_incremental_snapshot_pipeline(self.spark, store, state)
        res.nodes.count(), res.edges.count()
        return time.perf_counter() - t0, res

    def append_round(self, probe=None):
        """Bootstrap the incremental state from ``base`` and append every
        delta. Returns (bootstrap time, append times). The final state is
        checked against the from-scratch reference; ``probe`` then runs on
        the live store and state."""
        from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore

        wh = self.fresh_dir("append")
        try:
            store = ParquetSnapshotStore(self.spark, os.path.join(wh, "store"))
            state = os.path.join(wh, "warehouse")
            boot, res = self.append(store, state, "base.parquet")
            appends = []
            for i in range(self.meta["n_deltas"]):
                dt, res = self.append(store, state, f"delta_{i}.parquet")
                appends.append(dt)
            self.check("append", res.triples, res.nodes, res.edges, "append")
            if probe is not None:
                probe(store, state)
            return boot, appends
        finally:
            shutil.rmtree(wh, ignore_errors=True)


# ---------------------------------------------------- untraced (trace 0)

def run_untraced(b: Bench) -> dict:
    """Setup, then cycles of (append round, build) until ``--seconds``
    have passed, at least one.

    Setup is the session start (with its warm-up) and the bootstrap of
    the first append round."""
    rss = PeakRss()
    rss.start()
    try:
        session = b.setup()
        builds: list[float] = []
        boots: list[float] = []
        rounds: list[list[float]] = []
        t_end = time.perf_counter() + b.args.seconds
        while True:
            out = b.attempt("append round", b.append_round)
            if out is not None:
                boots.append(out[0])
                rounds.append(out[1])
            dt = b.attempt("build", b.build)
            if dt is not None:
                builds.append(dt)
            if time.perf_counter() >= t_end:
                break
    finally:
        rss.stop()
    appends = [a for r in rounds for a in r]
    metrics = {}
    if boots:
        metrics["setup_s"] = (session + boots[0], "s")
    if builds:
        build_s = statistics.median(builds)
        metrics["build_s"] = (build_s, "s")
        metrics["triples_per_s"] = (b.meta["build_triples"] / build_s, "triples/s")
    if appends:
        metrics["append_p50_s"] = (statistics.median(appends), "s")
    metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    log(
        f"samples: session={session:.3f} "
        f"bootstraps={[round(t, 3) for t in boots]} "
        f"builds={[round(t, 3) for t in builds]} "
        f"appends={[[round(t, 3) for t in r] for r in rounds]}; "
        f"build triples={b.meta['build_triples']}"
    )
    return metrics


# ------------------------------------------------------- traced (trace 1)

def kernel_probe(b: Bench) -> dict:
    """Single-thread kernel timings over the workload's fixed document
    sample: context compile, and parse + expand + triples per document."""
    from json_ld_spark.contexts import ContextDict
    from json_ld_spark.kernel import (
        Context, expand_document, expanded_to_triples, process_context,
    )

    cd = ContextDict()
    processor, base = cd.processor, cd.document_iri
    docs = [json.loads(d) for d in b.meta["kernel_sample"]]
    ctx_values = {json.dumps(d["@context"], sort_keys=True): d["@context"] for d in docs}
    compile_ms = []
    for _ in range(20):
        for value in ctx_values.values():
            t0 = time.perf_counter()
            process_context(processor, Context(base=base), value, base)
            compile_ms.append((time.perf_counter() - t0) * 1e3)
    active = {
        k: process_context(processor, Context(base=base), v, base)
        for k, v in ctx_values.items()
    }
    per_doc_us, pass_rates = [], []
    for _ in range(5):
        t_pass = time.perf_counter()
        for raw in b.meta["kernel_sample"]:
            t0 = time.perf_counter()
            doc = json.loads(raw)
            ctx = active[json.dumps(doc["@context"], sort_keys=True)]
            body = {k: v for k, v in doc.items() if k != "@context"}
            list(expanded_to_triples(expand_document(processor, ctx, body)))
            per_doc_us.append((time.perf_counter() - t0) * 1e6)
        pass_rates.append(len(docs) / (time.perf_counter() - t_pass))
    return {
        "kernel.docs_per_s": (statistics.median(pass_rates), "1/s"),
        "kernel.ctx_compile_ms": (statistics.median(compile_ms), "ms"),
        "kernel.expand_us_p50": (statistics.median(per_doc_us), "us"),
    }


def layer_probes(b: Bench, tr: Tracer) -> dict:
    """The build's layers one public call at a time, each in its span."""
    from pyspark.sql import functions as F

    from json_ld_spark.pipeline.cc import connected_components
    from json_ld_spark.pipeline.entity import (
        canonicalize, entity_dictionary, same_as_edges,
    )
    from json_ld_spark.pipeline.extract import (
        TaskMetricsParam, _candidate_filter, extract_triples,
    )
    from json_ld_spark.pipeline.job import run_extraction_job
    from json_ld_spark.pipeline.manifest import ParquetManifest

    spark = b.spark
    m: dict = {}
    corpus = b.path("build.parquet")

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed(name: str, fn, **counts):
        with tr.span(name, **counts):
            fn()
        return tr.spans[-1]["end"] - tr.spans[-1]["start"]

    m["transcripts.scan_s"] = (timed(
        "transcripts.scan",
        lambda: noop(spark.read.parquet(corpus)
                     .select("conv_id", "turn_idx", "text", "tool")
                     .where(_candidate_filter())),
    ), "s")

    acc = spark.sparkContext.accumulator([], TaskMetricsParam())
    stage_s = timed("extract.stage", lambda: noop(extract_triples(
        spark.read.parquet(corpus), dedup_turns=True, task_metrics_acc=acc,
    )))
    samples = acc.value
    busy = [s[1] for s in samples]
    ctx_h, ctx_m = sum(s[2] for s in samples), sum(s[3] for s in samples)
    doc_h, doc_m = sum(s[4] for s in samples), sum(s[5] for s in samples)
    tr.spans[-1]["counts"].update(
        tasks=len(samples), input_rows=sum(s[0] for s in samples),
        doc_hits=doc_h, doc_misses=doc_m, ctx_hits=ctx_h, ctx_misses=ctx_m,
    )
    m["extract.stage_s"] = (stage_s, "s")
    m["extract.kernel_busy_s"] = (sum(busy), "s")
    m["extract.tasks"] = (len(samples), "count")
    m["extract.core_util"] = (sum(busy) / (stage_s * b.cores), "ratio")
    m["extract.task_skew"] = (max(busy) / statistics.median(busy), "ratio")
    m["extract.doc_hit_ratio"] = (doc_h / max(doc_h + doc_m, 1), "ratio")
    m["extract.ctx_hit_ratio"] = (ctx_h / max(ctx_h + ctx_m, 1), "ratio")

    wh = b.fresh_dir("probe")
    try:
        m["job.extract_commit_s"] = (timed("job.extract_commit", lambda: run_extraction_job(
            spark, spark.read.parquet(corpus), wh, N_BUCKETS,
        )), "s")
        manifest = ParquetManifest(spark, wh, N_BUCKETS)
        pending: list[int] = []
        m["manifest.pending_s"] = (timed(
            "manifest.pending", lambda: pending.extend(manifest.pending_buckets())
        ), "s")
        if pending:
            raise AssertionError(f"buckets still pending after the job: {pending}")
        stats: dict = {}
        m["manifest.bucket_stats_s"] = (timed(
            "manifest.bucket_stats",
            lambda: stats.update(manifest.bucket_stats(list(range(N_BUCKETS)))),
        ), "s")
        scratch = ParquetManifest(spark, b.fresh_dir("manifest"), N_BUCKETS)

        def commit_all():
            for bucket in range(N_BUCKETS):
                scratch.commit_bucket(b.run_id, bucket, 0, stats.get(bucket))

        m["manifest.commit_s_per_bucket"] = (
            timed("manifest.commit", commit_all, buckets=N_BUCKETS) / N_BUCKETS, "s"
        )

        triples = manifest.read_triples()
        clean = triples.where(F.col("error_code").isNull())
        ents: list = []
        m["entity.dictionary_s"] = (timed(
            "entity.dictionary",
            lambda: ents.append(entity_dictionary(clean).localCheckpoint()),
        ), "s")
        entities = ents[0]
        m["entity.n_entities"] = (entities.count(), "count")
        edges0 = same_as_edges(entities).localCheckpoint()
        m["entity.same_as_edges"] = (edges0.count(), "count")
        m["cc.components_s"] = (timed(
            "cc.components",
            lambda: connected_components(edges0).localCheckpoint(),
        ), "s")

        def canon():
            _, nodes, edges = canonicalize(triples)
            nodes.write.parquet(os.path.join(wh, "out_nodes"))
            edges.write.parquet(os.path.join(wh, "out_edges"))

        m["entity.canonicalize_s"] = (timed("entity.canonicalize", canon), "s")
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return m


def append_probe(b: Bench, tr: Tracer, m: dict):
    """Two extra appends on the live, checked store and state: one
    untraced, then one whose steps run in spans, with the delta read and
    the incremental entity layer probed on their own between its steps
    (outside its timed steps). Also the bytes the state commit writes per
    byte of the delta's triples."""
    from pyspark.sql import functions as F

    from json_ld_spark.pipeline.entity import incremental_canonicalize
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.job import run_incremental_snapshot_pipeline

    spark = b.spark

    def probe(store, state):
        untraced, _ = b.append(store, state, "delta_0.parquet")
        state_dir = os.path.join(state, "entity_state")
        with open(os.path.join(state_dir, "state.json")) as fh:
            meta = json.load(fh)
        last = meta["snapshot_id"]
        with tr.span("snapshots.append") as counts:
            cur = counts["snapshot_id"] = store.append(
                spark.read.parquet(b.path("delta_0.parquet"))
            )
        with tr.span("snapshots.read_delta") as counts:
            counts["rows"] = store.read_delta(last, cur).select(
                F.count(F.lit(1))
            ).collect()[0][0]

        v = os.path.join(state_dir, f"v{meta['version']}")
        new = extract_triples(
            store.read_delta(last, cur), dedup_turns=True
        ).localCheckpoint()
        delta_dir = os.path.join(b.scratch, "delta_triples")
        new.write.mode("overwrite").parquet(delta_dir)
        with tr.span("entity.incremental_canonicalize"):
            outs = incremental_canonicalize(
                spark.read.parquet(os.path.join(v, "triples")), new,
                spark.read.parquet(os.path.join(v, "entities")),
                spark.read.parquet(os.path.join(v, "canon")),
                spark.read.parquet(os.path.join(v, "edges")),
            )
            for df in outs:
                df.write.format("noop").mode("overwrite").save()

        with tr.span("job.incremental"):
            res = run_incremental_snapshot_pipeline(spark, store, state)
        with tr.span("bench.read_nodes_edges") as counts:
            counts["nodes"] = res.nodes.count()
            counts["edges"] = res.edges.count()
        with open(os.path.join(state_dir, "state.json")) as fh:
            written = dir_bytes(os.path.join(state_dir, f"v{json.load(fh)['version']}"))

        def last_span(name: str) -> float:
            return tr.durations(name)[-1]

        traced = sum(map(last_span, (
            "snapshots.append", "job.incremental", "bench.read_nodes_edges",
        )))
        m["snapshots.append_s"] = (last_span("snapshots.append"), "s")
        m["snapshots.read_delta_s"] = (last_span("snapshots.read_delta"), "s")
        m["job.incremental_s"] = (last_span("job.incremental"), "s")
        m["entity.incremental_canonicalize_s"] = (
            last_span("entity.incremental_canonicalize"), "s"
        )
        m["state.write_amplification"] = (written / dir_bytes(delta_dir), "ratio")
        m["trace.append_overhead_s"] = (traced - untraced, "s")

    return probe


def run_traced(b: Bench) -> dict:
    """Per-layer run: the kernel alone, an append round followed by an
    untraced and a traced extra append, the build's layers one call at a
    time, then an untraced and a traced build. The tracing overhead is
    each traced append or build minus its untraced twin."""
    tr = b.tracer = Tracer(b.run_id)
    b.setup()
    with tr.span("kernel.probe"):
        m = kernel_probe(b)

    b.attempt("append round", lambda: b.append_round(append_probe(b, tr, m)))
    b.attempted += 1
    try:
        m.update(layer_probes(b, tr))
    except Exception:  # noqa: BLE001 - a failed probe is a result
        b.failed += 1
        log(f"FAILED layer probes:\n{traceback.format_exc()}")
    untraced_build = b.attempt("build", b.build)
    traced_build = b.attempt("traced build", lambda: b.build(traced=True))

    if untraced_build is not None and traced_build is not None:
        m["trace.build_overhead_s"] = (traced_build - untraced_build, "s")
    for layer, secs in sorted(tr.self_times().items()):
        m[f"self.{layer}_s"] = (secs, "s")

    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{b.args.workload}-s{b.args.seed}-{b.run_id}")
    tr.write(stem + ".spans.jsonl")
    with open(stem + ".self_times.json", "w") as fh:
        json.dump(tr.self_times(), fh, indent=1)
    log(f"spans: {stem}.spans.jsonl")
    log("self time per layer (s):")
    for layer, secs in sorted(tr.self_times().items(), key=lambda kv: -kv[1]):
        log(f"  {layer:<12} {secs:9.3f}")
    return m


# ------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "json_ld_spark", "pipeline", "job.py")):
        log(f"no json_ld_spark package under {ROOT}: run from the repository root")
        return 2
    if args.cores > (os.cpu_count() or 1):
        log(f"--cores {args.cores} exceeds nproc; using {os.cpu_count()}")
        args.cores = os.cpu_count()
    sys.path.insert(0, ROOT)

    b = Bench(args)
    b.prepare()
    try:
        metrics = (run_traced if args.trace else run_untraced)(b)
    finally:
        b.shutdown()
        shutil.rmtree(b.scratch, ignore_errors=True)

    for name, (value, unit) in metrics.items():
        print(f"{name:<36} {value:14.6g} {unit}")
    # always 0 on correct code, so it travels as attempted/failed in the
    # JSON result rather than as a metric
    print(
        f"{'failed_frac':<36} {b.failed / max(b.attempted, 1):14.6g} ratio "
        f"({b.failed} of {b.attempted} operations)"
    )
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
