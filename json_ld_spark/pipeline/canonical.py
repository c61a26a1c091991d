"""Distributed RDF dataset canonicalization (RDFC-1.0) over the triple
table — per-turn canonical N-Quads.

Canonicalization's unit is the TURN, matching ``pipeline/reconstruct.py``:
a turn's rows form one RDF dataset (extraction's turn-level dedup already
treats equal blank labels within a turn as one node). Each turn emits its
quads relabeled ``_:c14n<i>`` per the W3C RDF Dataset Canonicalization
algorithm (``kernel/canonicalize.py``), sorted in code-point order — so
two turns carry isomorphic RDF iff their (line_idx, nquad) sets are
byte-identical, giving content-addressed turn subgraphs for cross-snapshot
diffing and graph-level dedup downstream.

Scale design (same shape as ``reconstruct_turn_docs``, measured 6.4×
faster than per-group ``applyInPandas`` at sf0.1): ONE hash repartition
on (conv_id, turn_idx) + sort-within-partitions + a streaming
``mapInPandas`` that stitches the single group that can straddle an Arrow
batch boundary. Per-group input is bounded by one turn's triples
(O(10^1-10^2) rows at any corpus size) and per-group CPU by the kernel's
``_MAX_WORK`` poison-graph budget, so the stage has no skew exposure at
10^12 turns. A too-automorphic turn degrades to ONE quarantine row
(``error_code`` set) instead of failing the job — the extraction
pipeline's per-row error philosophy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.canonicalize import (
    CanonicalizationTooComplex,
    canonical_label_map,
    canonicalize_quads,
)
from .extract import TRIPLE_SCHEMA
from .reconstruct import _TRIPLE_FIELDS, map_turn_groups

CANONICAL_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("line_idx", IntegerType()),
        StructField("nquad", StringType()),
        StructField("error_code", StringType()),
    ]
)

TOO_COMPLEX = "canonicalization too complex"


def canonical_turn_lines(rows: list[dict]) -> list[tuple[int, str, str]]:
    """Kernel core shared verbatim by the Spark operator, the golden
    writer (tools/make_golden.py), and tests: one turn's triple rows →
    ``[(line_idx, nquad, error_code)]``. Output is a pure function of
    the row *set* (canonicalization sorts and dedups internally)."""
    try:
        lines = canonicalize_quads(rows)
    except CanonicalizationTooComplex:
        return [(0, None, TOO_COMPLEX)]
    return [(i, ln, None) for i, ln in enumerate(lines)]


def canonical_nquads(triples: DataFrame) -> DataFrame:
    """Per-turn canonical N-Quads (see module docstring for the plan
    shape; shared :func:`..pipeline.reconstruct.map_turn_groups` walker).
    Quarantined extraction rows are excluded — they carry no triple."""

    def finish(conv_id, turn_idx, rows):
        return [
            (conv_id, turn_idx, i, ln, err)
            for i, ln, err in canonical_turn_lines(rows)
        ]

    return map_turn_groups(triples, finish, CANONICAL_SCHEMA)


_GENID_PREFIX = "https://kg.example.org/.well-known/genid"


def skolemize_turn_rows(
    rows: list[dict], conv_id: str, turn_idx: int
) -> list[dict]:
    """Kernel core shared by the Spark operator, the golden writer, and
    tests: replace every blank node in one turn's rows with a *stable*
    skolem IRI (RDF 1.1 Concepts §skolemization, well-known genid path).

    The IRI embeds the RDFC-1.0 canonical label, so it is a pure function
    of the turn's graph STRUCTURE — re-extracting the turn (which mints
    fresh ``_:b<i>`` labels) yields the identical skolem IRIs, making
    former blank nodes joinable across snapshots and pipelines. A
    too-automorphic turn quarantines (``error_code``), keeping its blank
    labels untouched."""
    try:
        mapping = {
            old: f"{_GENID_PREFIX}/{conv_id}/{turn_idx}/{label}"
            for old, label in canonical_label_map(rows).items()
        }
    except CanonicalizationTooComplex:
        return [{**dict(r), "error_code": TOO_COMPLEX} for r in rows]
    out = []
    for r in rows:
        r = dict(r)
        r["error_code"] = None
        if r["subj"] in mapping:
            r["subj"] = mapping[r["subj"]]
        if r["obj_kind"] == "bnode" and r["obj_value"] in mapping:
            r["obj_value"] = mapping[r["obj_value"]]
            r["obj_kind"] = "iri"
        if r.get("graph") in mapping:
            r["graph"] = mapping[r["graph"]]
        out.append(r)
    return out


def skolemize_triples(triples: DataFrame) -> DataFrame:
    """Per-turn skolemization of the triple table (shared
    :func:`..pipeline.reconstruct.map_turn_groups` single-shuffle plan;
    see ``skolemize_turn_rows`` for the semantics). Output keeps the
    triple schema — a drop-in bnode-free replacement for downstream
    joins."""

    def finish(conv_id, turn_idx, rows):
        return [
            (conv_id, turn_idx)
            + tuple(r[k] for k in _TRIPLE_FIELDS)
            + (r["error_code"],)
            for r in skolemize_turn_rows(rows, conv_id, turn_idx)
        ]

    return map_turn_groups(triples, finish, TRIPLE_SCHEMA)


FPS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("graph_fp", StringType()),
        StructField("n_quads", LongType()),
    ]
)


def turn_fingerprints(triples: DataFrame) -> DataFrame:
    """Per-turn canonical content address: ``fp = sha256(sorted canonical
    N-Quad lines)`` — equal iff the turns carry isomorphic RDF datasets.
    sha256, not md5: the fingerprint drives data-dropping decisions
    (graph_dedup keep=false) over UNTRUSTED transcript content, and md5
    chosen-prefix collisions are practical — an adversary could craft two
    non-isomorphic turns that dedup as equal. The canonicalize kernel
    already hashes with sha256; this matches it.

    The fingerprint is computed INSIDE the streaming-group walker, where
    the turn's sorted canonical lines already sit in memory: a
    ``groupBy`` over the ``canonical_nquads`` output would force a second
    shuffle (Catalyst cannot know a ``mapInPandas`` kernel preserved the
    keys, so it inserts ENSURE_REQUIREMENTS), and would ship one Arrow
    row per LINE instead of one per TURN across the Python boundary.
    Plan: exactly ONE exchange (pinned by test). A quarantined
    (too-automorphic) turn keeps its row with a NULL fp — callers decide
    whether to exclude (dedup) or report it (diff).

    This is the table to PERSIST between pipeline runs: feeding it back as
    the ``old_fingerprints`` of :func:`graph_diff` turns the daily diff
    into one canonicalization pass over the new snapshot only."""
    import hashlib

    def finish(conv_id, turn_idx, rows):
        lines = [
            ln for _, ln, err in canonical_turn_lines(rows) if err is None
        ]
        if not lines:  # quarantined: no isomorphism verdict exists
            return [(conv_id, turn_idx, None, 0)]
        fp = hashlib.sha256("\n".join(lines).encode()).hexdigest()
        return [(conv_id, turn_idx, fp, len(lines))]

    return map_turn_groups(triples, finish, FPS_SCHEMA)


def graph_diff(
    old_fingerprints: DataFrame, new_fingerprints: DataFrame
) -> DataFrame:
    """Cross-snapshot KG diff: per-turn verdicts between two extractions,
    each given as its :func:`turn_fingerprints` table.

    ``status`` per (conv_id, turn_idx):

    - ``added`` / ``removed`` — the turn exists on one side only;
    - ``unchanged`` — both sides carry ISOMORPHIC RDF datasets (canonical
      fingerprints equal), so re-extraction minting fresh blank labels is
      correctly reported as no change — the verdict text-level hashing
      cannot give;
    - ``changed`` — both present, datasets not isomorphic;
    - ``unknown`` — a side was quarantined as too automorphic to
      canonicalize within the kernel's work budget: no isomorphism verdict
      exists, and an honest diff must say so rather than guess.

    This is the incremental-curation primitive: at 100 TB pass the
    PREVIOUS run's persisted fingerprints as ``old_fingerprints`` and the
    daily diff costs one canonicalization pass over the NEW snapshot plus
    a full-outer sort-merge join on the turn key. Plan note: fingerprints
    come out of a ``mapInPandas`` kernel, whose partitioning Catalyst
    cannot see, so the join re-hashes each computed side (one
    ENSURE_REQUIREMENTS exchange per side) — and none for a persisted
    side written bucketed by the turn key.
    """
    o = old_fingerprints.select(
        "conv_id",
        "turn_idx",
        F.col("graph_fp").alias("old_fp"),
        F.col("n_quads").alias("old_n_quads"),
        F.lit(True).alias("in_old"),
    )
    n = new_fingerprints.select(
        "conv_id",
        "turn_idx",
        F.col("graph_fp").alias("new_fp"),
        F.col("n_quads").alias("new_n_quads"),
        F.lit(True).alias("in_new"),
    )
    status = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_fp").isNull() | F.col("new_fp").isNull(),
            F.lit("unknown"),
        )
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, ["conv_id", "turn_idx"], "full_outer").select(
        "conv_id",
        "turn_idx",
        status.alias("status"),
        "old_fp",
        "new_fp",
        "old_n_quads",
        "new_n_quads",
    )


def graph_dedup(triples: DataFrame) -> DataFrame:
    """Graph-level turn dedup: two turns are duplicates iff their RDF
    datasets are isomorphic — exactly when their canonical N-Quads are
    byte-identical. The canonical serialization therefore acts as a
    content address: ``graph_fp = sha256(sorted canonical lines)``, and each
    fingerprint group keeps its (conv_id, turn_idx)-least member.

    This is the dedup a training pipeline needs that exact text/row hashing
    cannot express: the same extracted subgraph re-serialized with fresh
    blank labels (every re-expansion mints new ones) hashes differently as
    text but identically here.

    Scale shape: fingerprints come straight out of the
    :func:`turn_fingerprints` kernel (one exchange, one row per turn —
    see its docstring) and are local-checkpointed, so the kernel
    canonicalizes each turn once although both sides of the ``graph_fp``
    join read them; everything after is JVM. Representatives come
    from groupBy(graph_fp).min(struct) + an equi-join back — the
    map-side-combining, skew-safe shape; a window over fp would sort whole
    degenerate groups on one task. Too-automorphic turns (NULL fp from
    the kernel) are excluded: no isomorphism verdict exists for them.

    A report of duplicate groups only filters ``group_size >= 2`` on the
    result: Catalyst pushes that filter below the join onto the
    aggregate, so singleton groups never reach the join.
    """
    # fps feeds both join sides: checkpoint it so the kernel runs once
    fps = (
        turn_fingerprints(triples)
        .where(F.col("graph_fp").isNotNull())
        .localCheckpoint()
    )
    reps = fps.groupBy("graph_fp").agg(
        F.min(F.struct("conv_id", "turn_idx")).alias("rep"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return fps.join(reps, "graph_fp").select(
        "conv_id",
        "turn_idx",
        "graph_fp",
        "n_quads",
        "group_size",
        (
            (F.col("conv_id") == F.col("rep.conv_id"))
            & (F.col("turn_idx") == F.col("rep.turn_idx"))
        ).alias("keep"),
    )


def triple_diff(
    old_skolemized: DataFrame, new_skolemized: DataFrame
) -> DataFrame:
    """Exact TRIPLE-level diff between two SKOLEMIZED extractions: which
    rows were added / removed, not merely which turns changed.

    This is what :func:`skolemize_triples` buys: raw extractions mint
    fresh ``_:b<i>`` labels every run, so a row-level set difference over
    them reports every bnode-touching triple as changed; skolem IRIs are
    a pure function of graph structure, so after skolemization the
    multiset difference is exact. Quarantined (too-automorphic) rows are
    excluded from both sides — their labels are not stable, so no
    row-level verdict exists for them (the turn-level ``graph_diff``
    still reports those turns as ``unknown``).

    Plan: two ``exceptAll`` set differences (each one shuffle on the full
    row — Spark's aggregate-based multiset difference; no driver state,
    no skew exposure beyond exact-duplicate rows, which extraction's
    in-kernel dedup already collapses) unioned under a ``status`` tag.
    """
    cols = ["conv_id", "turn_idx", *_TRIPLE_FIELDS]
    o = old_skolemized.where(F.col("error_code").isNull()).select(cols)
    n = new_skolemized.where(F.col("error_code").isNull()).select(cols)
    return n.exceptAll(o).withColumn("status", F.lit("added")).unionByName(
        o.exceptAll(n).withColumn("status", F.lit("removed"))
    )
